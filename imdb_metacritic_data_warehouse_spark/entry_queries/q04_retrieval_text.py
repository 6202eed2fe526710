"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import (
    F,
    _dec,
    _events,
    _t,
    _units4,
    arg_max,
    global_row_number,
    materialize,
    os,
    query,
    scd2_apply,
)
from .q01_warehouse import (
    _MINHASH_SIG_SQL,
    _NORM_SQL,
    _SCD2_T0,
    _SCD2_T1,
    cosine_topk,
    dedup_exact,
    lsh_candidate_pairs,
)
from .q02_pipeline_parity import (
    Window,
    _BM25_TERMS,
    _finish_scratch,
    _scratch_dir,
    asof_join,
)
from .q03_dedup_lsh import _content_cached, connected_components
from ..operators.text import token_count_ws, tokens



def _lsh_band_sql(src: str, p: str) -> str:
    """Shingle→minhash→band CTE chain over CTE ``src``, prefixed ``p``
    (the SQL twin of operators/dedup.lsh_band_table)."""
    return f"""
    {p}tok AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM {src}),
    {p}sh AS (
      SELECT doc_id,
        CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
        END AS shingles
      FROM {p}tok
    ),
    {p}sig AS (SELECT doc_id, {_MINHASH_SIG_SQL} AS sig FROM {p}sh),
    {p}band AS (
      SELECT doc_id, b.range AS band,
             md5(array_to_string(sig[b.range*3+1 : b.range*3+3], '|')) AS band_sig
      FROM {p}sig, range(0, 4) b
    )"""


# Incremental near-dup ingest (operators/dedup.incremental_neardup_filter):
# the committed corpus's LSH band table is the persisted index; a new
# batch only sketches ITSELF and semi-joins — the maintenance mode that
# replaces whole-corpus re-deduplication per batch.  The batch plants
# one near-dup (text + 3 extra words — collides by construction) and
# one genuinely novel doc (md5 of the text, single alien token) per
# %25 source doc; exactly the novel ones must survive.
@query(
    "incremental_neardup_ingest",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    batch AS (
      SELECT doc_id + 1000000 AS doc_id, text || ' zz yy xx' AS text
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 2000000, md5(text)
      FROM documents WHERE doc_id % 25 = 0
    ),
    {_lsh_band_sql('corpus', 'c')},
    {_lsh_band_sql('batch', 'b')}
    SELECT b.doc_id FROM batch b
    WHERE NOT EXISTS (
      SELECT 1 FROM bband x JOIN cband c
        ON x.band = c.band AND x.band_sig = c.band_sig
      WHERE x.doc_id = b.doc_id
    )
    """,
)
def incremental_neardup_ingest(spark, sf_dir):
    from ..operators.dedup import incremental_neardup_filter, lsh_band_table

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seeds = d.filter(F.col("doc_id") % 25 == 0)
    batch = seeds.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx")).alias("text"),
    ).unionByName(
        seeds.select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.md5(F.col("text")).alias("text"),
        )
    )
    corpus_bands = lsh_band_table(d, "doc_id", "text")
    survivors = incremental_neardup_filter(batch, corpus_bands, "doc_id", "text")
    return survivors.select("doc_id")


def _bm25_scored_cte() -> str:
    """BM25 tf/stats/scored CTE chain (the bm25_docs oracle shape)."""
    return f"""
    tf AS (
      SELECT doc_id, len(w) AS dl,
             {", ".join(f"len(w) - len(list_filter(w, x -> x != '{t}')) AS tf{i}" for i, t in enumerate(_BM25_TERMS))}
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
             {", ".join(f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(_BM25_TERMS)))}
      FROM tf
    ),
    lex AS (
      SELECT doc_id,
             round({" + ".join(
                 f"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
                 f" * ((CAST(tf{i} AS DOUBLE) * 2.2) / (CAST(tf{i} AS DOUBLE)"
                 f" + 1.2 * (0.25 + (0.75 * CAST(dl AS DOUBLE)) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))"
                 for i in range(len(_BM25_TERMS)))}, 6) AS bm25
      FROM tf CROSS JOIN stats
    )"""


# Hybrid retrieval end-product: BM25 lexical ranking fused with dense
# cosine ranking by reciprocal-rank fusion (score = Σ 1/(60+rank) over
# the lists a doc appears in) — the standard two-tower search stack
# (bm25_scores + cosine machinery) compressed to one query.  Ranks are
# deterministic (score ties break on doc_id), the fused score is an
# exact two-term double sum, and the final top-10 orders on the exact
# sum before rounding — bit-identical across engines.
@query(
    "hybrid_search_rrf",
    f"""
    WITH {_bm25_scored_cte()},
    lexr AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lr
      FROM lex WHERE bm25 > 0
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 5),
    dense AS (
      SELECT e.vec_id AS doc_id,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 5
    ),
    denser AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS dr
      FROM dense
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lr, d.dr,
             COALESCE(1.0 / (60 + l.lr), 0.0) + COALESCE(1.0 / (60 + d.dr), 0.0)
               AS rrf
      FROM lexr l FULL JOIN denser d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, CAST(lr AS INTEGER) AS lex_rank, CAST(dr AS INTEGER) AS dense_rank,
           round(rrf, 6) AS rrf_score, CAST(pos AS INTEGER) AS pos
    FROM (
      SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS pos FROM fused
    ) WHERE pos <= 10
    """,
)
def hybrid_search_rrf(spark, sf_dir):
    # All three rankings are corpus-sized totals, so each goes through
    # the two-phase global_row_number (range partition + local rank +
    # broadcast offsets) — a bare Window.orderBy row_number funnels the
    # whole scored corpus through ONE task (the round-3 scale-killer;
    # same fix as the rating_slide leaderboard, operators/rank.py:26).
    from ..operators.rank import global_row_number
    from ..operators.similarity import dot_codegen
    from ..operators.text import bm25_scores

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    # global_row_number reads its input twice (offsets agg + join);
    # materialize the expensive scored leaves once so the BM25 corpus
    # aggregation / dot-product scan don't re-execute per branch (the
    # lsh_candidate_pairs no-cross-branch-CSE pattern, dedup.py:191)
    # bm25_scores already keeps only bm25 > 0 rows (matching the
    # oracle's WHERE) — no extra filter needed
    lex = materialize(bm25_scores(d, _BM25_TERMS), "hybrid_search_rrf.lex", eager=False)
    lexr = global_row_number(
        lex, [F.desc("bm25"), F.asc("doc_id")], out_col="lr"
    ).select("doc_id", "lr")
    qv = e.filter(F.col("vec_id") == 5).select(F.col("embedding").alias("qv"))
    dense = materialize(
        e.filter(F.col("vec_id") != 5)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot_codegen("embedding", "qv"), 6).alias("cos"),
        ),
        "hybrid_search_rrf.dense",
        eager=False,
    )
    denser = global_row_number(
        dense, [F.desc("cos"), F.asc("doc_id")], out_col="dr"
    ).select("doc_id", "dr")
    fused = (
        lexr.join(denser, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lr",
            "dr",
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lr")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("dr")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        global_row_number(fused, [F.desc("rrf"), F.asc("doc_id")], out_col="pos")
        .filter(F.col("pos") <= 10)
        .select(
            "doc_id",
            F.col("lr").cast("int").alias("lex_rank"),
            F.col("dr").cast("int").alias("dense_rank"),
            F.round("rrf", 6).alias("rrf_score"),
            F.col("pos").cast("int").alias("pos"),
        )
    )


# First-order Markov transition matrix over per-user event sequences —
# the "what do users do next" model behind next-action prediction and
# behavioral-cohort features.  One window shuffle on user_id (lead) +
# one hash aggregate on (src, dst); the per-src normalizing total is a
# window over the AGGREGATED matrix (|event_types|² rows — trivially
# small however large the fact table).  p is an integer-count ratio, so
# round(…,6) is engine-stable.
@query(
    "markov_transitions_events",
    """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    )
    SELECT src, dst, COUNT(*) AS n,
           round(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY src), 6) AS p
    FROM seq WHERE dst IS NOT NULL
    GROUP BY src, dst
    """,
)
def markov_transitions_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    mat = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    return mat.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wsrc), 6).alias("p"),
    )


# Time-weighted average (TWAP) of the event value per user: each
# observation is held until the next one, so the mean weights values by
# their holding interval — the correct aggregate for irregularly-sampled
# gauges (price feeds, sensor state).  dt in exact integer MICROSECONDS
# (unix_micros / epoch_us) so the weights are bit-identical across
# engines; one window shuffle on user_id, one aggregate.
@query(
    "twap_events",
    """
    WITH seq AS (
      SELECT user_id, value,
             epoch_us(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             )) - epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT user_id,
           round(SUM(value * dt_us) / SUM(dt_us), 6) AS twap,
           COUNT(*) AS n_intervals
    FROM seq WHERE dt_us IS NOT NULL
    GROUP BY user_id
    HAVING SUM(dt_us) > 0
    """,
)
def twap_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "dt_us"
        ),
    ).filter(F.col("dt_us").isNotNull())
    return (
        seq.groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 6
            ).alias("twap"),
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt_us").alias("_tot"),
        )
        .filter(F.col("_tot") > 0)
        .drop("_tot")
    )


# Probability-proportional-to-size sampling over documents, weighted by
# length — the importance-sampling corpus thinning step (keep long docs
# more often; unbiased stats reweight by 1/p downstream).  Membership is
# integer-hash math (operators/sampling.pps_sample), so the oracle
# checks the EXACT kept row set, not just aggregates.  Pure per-row
# filter: zero shuffles at any scale.
@query(
    "weighted_sample_pps_docs",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
          < floor(CAST(0.0015 AS DOUBLE) * n_chars * CAST(281474976710656 AS DOUBLE))
    """,
)
def weighted_sample_pps_docs(spark, sf_dir):
    from ..operators.sampling import pps_sample

    d = _t(spark, sf_dir, "documents")
    return pps_sample(d, "doc_id", "n_chars", 0.0015).select("doc_id", "n_chars")


# Vocabulary truncation — rewrite every out-of-vocabulary token to
# <unk> and reassemble each document in token order (the preprocessing
# step that pins a tokenizer's closed vocabulary before training).
# Vocab = global top-V tokens by frequency (V=50 here; deterministic
# count-desc/token-asc tie-break).  The vocab aggregate is tiny however
# large the corpus (bounded by V after the top-V cut) and BROADCASTS to
# the token stream — the scale-correct shape when the real vocab is
# ~100k rows (an array_contains against a literal list would be O(V)
# per token; the hash join is O(1)).  Reassembly sorts (pos, token)
# structs inside one hash aggregate per doc — same single-shuffle class
# as text_analysis.
@query(
    "vocab_truncate_docs",
    """
    WITH words AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    tok AS (SELECT doc_id, unnest(ws) AS tok FROM words),
    vocab AS (SELECT tok FROM tok GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 50),
    v AS (SELECT list(tok) AS vl FROM vocab)
    SELECT w.doc_id,
           array_to_string(
             list_transform(ws, t -> CASE WHEN list_contains(vl, t)
                                          THEN t ELSE '<unk>' END), ' ') AS text_trunc,
           len(list_filter(ws, t -> NOT list_contains(vl, t))) AS n_unk,
           len(ws) AS n_tokens
    FROM words w CROSS JOIN v
    """,
)
def vocab_truncate_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(50)
        .select("tok", F.lit(1).alias("__in"))
    )
    mapped = tok.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        "pos",
        F.when(F.col("__in").isNotNull(), F.col("tok"))
        .otherwise(F.lit("<unk>"))
        .alias("tok2"),
        F.when(F.col("__in").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_unk"),
    )
    return mapped.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok2"))),
                lambda x: x["tok2"],
            ),
            " ",
        ).alias("text_trunc"),
        F.sum("is_unk").cast("bigint").alias("n_unk"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def _copurchase_pairs(spark, sf_dir):
    """Distinct co-purchase part pairs (pa < pb) via ONE groupBy +
    in-task combinatorial expansion (bounded by the ≤7-lines-per-order
    data model), not a fact-table self-join: the join shuffles the
    scan twice and was the measured 70% of PageRank end-to-end time.
    collect_set both dedups per-order repeats and keeps the expansion
    quadratic only in the per-group size — the shape that survives
    100× (a group-size cap belongs here if per-key fan-in were
    unbounded).

    Served from q03's content-keyed cache: the edge table is a
    standard materialized artifact of a production graph pipeline —
    PageRank, triangles, and any future graph consumer read ONE
    committed build per fact-table version instead of re-expanding per
    query."""

    def build(li):
        per_order = li.groupBy("l_orderkey").agg(
            F.collect_set("l_partkey").alias("ps")
        )
        return (
            per_order.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) ->"
                        " transform(slice(ps, i + 2, size(ps)),"
                        " y -> struct(least(x, y) AS pa, greatest(x, y) AS pb))))"
                    )
                ).alias("p")
            )
            .select("p.pa", "p.pb")
            .distinct()
        )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return _content_cached(spark, sf_dir, li, "copurchase-v1", build)


# PageRank over the co-purchase graph — parts are linked when they
# appear in the same order; 3 synchronous power iterations (unrolled in
# the oracle), damping 0.85.  Per-iteration cost is one edges⋈ranks
# join + one per-node aggregate, both keyed on node id; the
# edges⋈degree table is loop-invariant and materialized once; lineage
# is checkpoint-bounded per round (operators/graph.py).  The co-occur
# self-join is bounded by per-order line count (≤7 in this data model),
# never a cross product.  FP parity: every constant is forced to DOUBLE
# on both engines with the SAME expression shape ((1-0.85)/n, not a
# pre-folded 0.15 literal — they differ by 1 ulp); round(…,8) at the
# end absorbs summation-order drift.
@query(
    "pagerank_parts_copurchase",
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
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / n AS pr FROM nodes CROSS JOIN nn),
    c1 AS (
      SELECT e.dst AS node, SUM(r.pr / d.out_deg) AS s
      FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             + CAST(0.85 AS DOUBLE) * COALESCE(c1.s, 0) AS pr
      FROM nodes n CROSS JOIN nn LEFT JOIN c1 ON n.node = c1.node
    ),
    c2 AS (
      SELECT e.dst AS node, SUM(r.pr / d.out_deg) AS s
      FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             + CAST(0.85 AS DOUBLE) * COALESCE(c2.s, 0) AS pr
      FROM nodes n CROSS JOIN nn LEFT JOIN c2 ON n.node = c2.node
    ),
    c3 AS (
      SELECT e.dst AS node, SUM(r.pr / d.out_deg) AS s
      FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT n.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             + CAST(0.85 AS DOUBLE) * COALESCE(c3.s, 0) AS pr
      FROM nodes n CROSS JOIN nn LEFT JOIN c3 ON n.node = c3.node
    )
    SELECT node AS part, round(pr, 8) AS pr
    FROM r3 ORDER BY pr DESC, part LIMIT 50
    """,
)
def pagerank_parts_copurchase(spark, sf_dir):
    from ..operators.graph import pagerank, undirected_edges

    pairs = _copurchase_pairs(spark, sf_dir)
    ranks = pagerank(
        undirected_edges(pairs, "pa", "pb"),
        checkpoint_every=0,  # 3 fixed rounds fuse into one job (r9 A/B)
        symmetric=True,  # undirected_edges guarantees the mirror
    )
    return (
        ranks.select(F.col("node").alias("part"), F.round("pr", 8).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("part"))
        .limit(50)
    )


# Triangle counts + local clustering coefficient over the co-purchase
# graph — the community-density / spam-graph-robustness signal next to
# PageRank's importance.  Degree-ordered wedge counting
# (operators/graph.triangle_counts): edges orient low→high (degree,
# id), wedges come only from oriented out-neighborhoods (out-degree
# bounded O(√m) however skewed the hubs), closure is one equi-join.
# The naive all-neighbor-pairs expansion is quadratic in hub degree —
# the formulation that dies exactly where real graphs are dense.
# Coefficient 2T/(d(d−1)) is an integer-count ratio → round-6 stable.
@query(
    "triangle_counts_parts",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT pa AS node FROM pairs UNION ALL SELECT pb AS node FROM pairs
      ) GROUP BY node
    ),
    oe AS (
      SELECT CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN p.pa ELSE p.pb END AS src,
             CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN p.pb ELSE p.pa END AS dst,
             CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN db.d ELSE da.d END AS dd
      FROM pairs p JOIN deg da ON da.node = p.pa JOIN deg db ON db.node = p.pb
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oe e1 JOIN oe e2
        ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
      JOIN oe e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    tc AS (
      SELECT node, COUNT(*) AS tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT t.node AS part, t.tri, d.d AS degree,
           round(2.0 * t.tri / (d.d * (d.d - 1)), 6) AS clustering
    FROM tc t JOIN deg d ON d.node = t.node
    ORDER BY t.tri DESC, part LIMIT 50
    """,
)
def triangle_counts_parts(spark, sf_dir):
    from ..operators.graph import triangle_counts

    # the pair expansion feeds the operator's degree/orientation joins
    # AND the coefficient's degree table — materialize once
    pairs = materialize(_copurchase_pairs(spark, sf_dir), "triangle_counts_parts.pairs")
    tc = triangle_counts(pairs)
    fwd = pairs.select(F.col("pa").alias("node")).unionByName(
        pairs.select(F.col("pb").alias("node"))
    )
    deg = fwd.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    return (
        tc.join(deg, "node")
        .select(
            F.col("node").alias("part"),
            "tri",
            F.col("d").alias("degree"),
            F.round(
                F.lit(2.0) * F.col("tri") / (F.col("d") * (F.col("d") - 1)), 6
            ).alias("clustering"),
        )
        .orderBy(F.desc("tri"), F.asc("part"))
        .limit(50)
    )


# EXACT set-similarity self-join (3-gram-shingle Jaccard ≥ 0.6) via
# PPJoin-style prefix filtering — the deterministic complement to
# MinHash/LSH: zero false negatives, no banding parameters.  The oracle
# is the honest all-pairs brute force (feasible at oracle SFs); the
# Spark side runs the prefix-filtered plan that survives 100× —
# candidates collide only on globally-RARE shingles, so the
# element-keyed join never concentrates on boilerplate.  Threshold as
# integer percent: the accept test is 100·inter ≥ 60·union on exact
# counts, no float boundary.  Set elements are shingles, not unigrams:
# unigram sets over this corpus's ~30-word vocabulary make 73k of 125k
# pairs "similar" — an all-pairs join in disguise.
@query(
    "jaccard_prefix_join_docs",
    """
    WITH tokw AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
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
      -- same 60-bit element hash as the engine (see operator docstring)
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
    )
    SELECT doc_a, doc_b, inter, sa + sb - inter AS uni,
           round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) AS jaccard
    FROM p WHERE 100 * inter >= 60 * (sa + sb - inter)
    """,
)
def jaccard_prefix_join_docs(spark, sf_dir):
    from ..operators.dedup import prefix_filter_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(d, "doc_id", "text")


# Cumulative distinct users by day — the scalable REWRITE of
# COUNT(DISTINCT) over a growing window (which needs unbounded state
# per window): mark each user's FIRST-seen day (one aggregate), count
# new users per day, running-sum over the day spine.  The only global
# window runs over DAYS (calendar-bounded — thousands of rows however
# large the fact table), so the single-partition cumsum is free; the
# heavy lifting is two hash aggregates keyed on user_id / day.
@query(
    "cumulative_unique_users_daily",
    """
    WITH firstseen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    new_by_day AS (SELECT d, COUNT(*) AS new_users FROM firstseen GROUP BY d),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT CAST(days.d AS VARCHAR) AS day,
           COALESCE(new_users, 0) AS new_users,
           CAST(SUM(COALESCE(new_users, 0)) OVER (
             ORDER BY days.d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM days LEFT JOIN new_by_day ON days.d = new_by_day.d
    """,
)
def cumulative_unique_users_daily(spark, sf_dir):
    e = _events(spark, sf_dir)
    firstseen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    new_by_day = firstseen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    days = e.select(F.to_date("ts").alias("d")).distinct()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        days.join(new_by_day, "d", "left")
        .select("d", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select(
            F.col("d").cast("string").alias("day"),
            "new_users",
            F.sum("new_users").over(w).alias("cum_users"),
        )
    )


# SCD2 validity-interval audit — the dbt-style integrity test every
# historized table needs: exactly one open row per key, no interval
# overlaps, no gaps, valid_from < valid_to.  Runs the same two-batch
# merge as scd2_merge_orders, then audits with one per-key window +
# two aggregates; the single summary row makes violations (expected 0)
# and coverage (n_keys, n_rows > 0 — non-vacuous) visible in one scan
# of the history.
@query(
    "scd2_validity_audit",
    f"""
    WITH b1 AS (
      SELECT o_orderkey AS pk, o_orderpriority AS prio, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    b2 AS (
      SELECT o_orderkey AS pk,
             CASE WHEN o_orderkey % 5 = 0 THEN 'X-CHANGED' ELSE o_orderpriority END AS prio,
             o_orderstatus AS status
      FROM orders
    ),
    state1 AS (
      SELECT pk, prio, status,
             TIMESTAMP '{_SCD2_T0}' AS valid_from,
             TIMESTAMP '9999-12-31 00:00:00' AS valid_to
      FROM b1
    ),
    closed AS (
      SELECT s.pk, s.prio, s.status, s.valid_from, TIMESTAMP '{_SCD2_T1}' AS valid_to
      FROM state1 s LEFT JOIN b2 ON s.pk = b2.pk
      WHERE b2.pk IS NULL
         OR (s.prio IS DISTINCT FROM b2.prio OR s.status IS DISTINCT FROM b2.status)
    ),
    kept AS (
      SELECT s.* FROM state1 s JOIN b2 ON s.pk = b2.pk
      WHERE NOT (s.prio IS DISTINCT FROM b2.prio OR s.status IS DISTINCT FROM b2.status)
    ),
    inserted AS (
      SELECT b2.pk, b2.prio, b2.status,
             TIMESTAMP '{_SCD2_T1}' AS valid_from,
             TIMESTAMP '9999-12-31 00:00:00' AS valid_to
      FROM b2 LEFT JOIN state1 s ON b2.pk = s.pk
      WHERE s.pk IS NULL
         OR (s.prio IS DISTINCT FROM b2.prio OR s.status IS DISTINCT FROM b2.status)
    ),
    merged AS (
      SELECT * FROM closed UNION ALL SELECT * FROM kept
      UNION ALL SELECT * FROM inserted
    ),
    seq AS (
      SELECT pk, valid_from, valid_to,
             lead(valid_from) OVER (PARTITION BY pk ORDER BY valid_from) AS nf
      FROM merged
    ),
    per AS (
      SELECT pk, COUNT(*) AS nr,
             CAST(SUM(CASE WHEN valid_to = TIMESTAMP '9999-12-31 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_open
      FROM merged GROUP BY pk
    ),
    a1 AS (
      SELECT COUNT(*) AS n_keys, CAST(SUM(nr) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN n_open <> 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_open_violations
      FROM per
    ),
    a2 AS (
      SELECT
        CAST(SUM(CASE WHEN valid_from >= valid_to THEN 1 ELSE 0 END) AS BIGINT)
          AS n_inverted,
        CAST(SUM(CASE WHEN nf IS NOT NULL AND nf < valid_to THEN 1 ELSE 0 END)
             AS BIGINT) AS n_overlaps,
        CAST(SUM(CASE WHEN nf IS NOT NULL AND nf > valid_to THEN 1 ELSE 0 END)
             AS BIGINT) AS n_gaps
      FROM seq
    )
    SELECT * FROM a1 CROSS JOIN a2
    """,
)
def scd2_validity_audit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    b1 = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderstatus").alias("status"),
    )
    b2 = o.select(
        F.col("o_orderkey").alias("pk"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X-CHANGED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
        F.col("o_orderstatus").alias("status"),
    )
    state1 = scd2_apply(None, b1, "pk", ["prio", "status"], _SCD2_T0)
    merged = scd2_apply(state1, b2, "pk", ["prio", "status"], _SCD2_T1)
    # feeds the window audit AND the per-key agg
    merged = materialize(merged, "scd2_validity_audit.merged")
    sentinel = F.lit("9999-12-31 00:00:00").cast("timestamp")
    w = Window.partitionBy("pk").orderBy("valid_from")
    seq = merged.select(
        "pk",
        "valid_from",
        "valid_to",
        F.lead("valid_from").over(w).alias("nf"),
    )
    per = merged.groupBy("pk").agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum((F.col("valid_to") == sentinel).cast("int")).alias("n_open"),
    )
    a1 = per.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("nr").alias("n_rows"),
        F.sum((F.col("n_open") != 1).cast("int")).alias("n_open_violations"),
    )
    a2 = seq.agg(
        F.sum((F.col("valid_from") >= F.col("valid_to")).cast("int")).alias(
            "n_inverted"
        ),
        F.sum(
            (F.col("nf").isNotNull() & (F.col("nf") < F.col("valid_to"))).cast("int")
        ).alias("n_overlaps"),
        F.sum(
            (F.col("nf").isNotNull() & (F.col("nf") > F.col("valid_to"))).cast("int")
        ).alias("n_gaps"),
    )
    return a1.crossJoin(a2)


# Bucketed table checksum — the cheap replica-reconciliation primitive
# (anti-entropy): XOR of per-row 60-bit content hashes within key
# buckets.  Two replicas compare 16 (bucket, n, xor) rows instead of
# row-by-row; a mismatched bucket scopes the repair scan to 1/16 of the
# table (recurse with more buckets for finer localization).  XOR is
# order-independent and never overflows — no modular-sum portability
# hazard; one hash aggregate, scan-scale at 100 TB.
@query(
    "table_checksum_orders",
    """
    SELECT CAST(o_orderkey % 16 AS INT) AS bucket, COUNT(*) AS n,
           bit_xor(CAST(CONCAT('0x', substr(md5(CONCAT_WS('|',
             CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
             o_orderstatus, CAST(o_totalprice AS VARCHAR),
             CAST(o_orderdate AS VARCHAR))), 1, 15)) AS BIGINT)) AS xor_sum
    FROM orders GROUP BY 1
    """,
)
def table_checksum_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    rowhash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.col("o_totalprice").cast("string"),
                    F.col("o_orderdate").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        o.select(
            (F.col("o_orderkey") % 16).cast("int").alias("bucket"),
            rowhash.alias("h"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("xor_sum"))
    )


# Winsorization — robust-stats clipping at exact per-group percentiles
# (the outlier treatment feature pipelines apply before normalization).
# Cutoffs from ONE array-fraction percentile aggregate per group
# (single value buffer), broadcast back to the fact scan; clip is
# least/greatest, no second sort.  Clip counts are integers (cutoffs
# interpolate between data values, so a 1-ulp engine drift in the
# cutoff cannot cross a datum); averages rounded to absorb
# summation-order drift.
@query(
    "winsorize_lineitem_prices",
    """
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(lo, 4) AS p05, round(hi, 4) AS p95,
           round(AVG(CAST(l_extendedprice AS DOUBLE)), 4) AS avg_raw,
           round(AVG(LEAST(GREATEST(CAST(l_extendedprice AS DOUBLE), lo), hi)), 4)
             AS avg_winsorized,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) < lo
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high
    FROM lineitem l JOIN cuts ON l.l_returnflag = cuts.l_returnflag
    GROUP BY l.l_returnflag, lo, hi
    """,
)
def winsorize_lineitem_prices(spark, sf_dir):
    from ..operators.percentile import exact_percentiles_grouped

    li = _t(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("double")
    # two-phase rank percentiles (no per-group value buffer; bit-equal
    # to the F.percentile aggregate this replaced)
    cuts = exact_percentiles_grouped(
        li, ["l_returnflag"], "l_extendedprice", [0.05, 0.95], ["lo", "hi"]
    )
    j = li.join(F.broadcast(cuts), "l_returnflag")
    clipped = F.least(F.greatest(v, F.col("lo")), F.col("hi"))
    return j.groupBy("l_returnflag", "lo", "hi").agg(
        F.round(F.avg(v), 4).alias("avg_raw"),
        F.round(F.avg(clipped), 4).alias("avg_winsorized"),
        F.count(F.lit(1)).alias("n"),
        F.sum((v < F.col("lo")).cast("int")).cast("bigint").alias("n_clipped_low"),
        F.sum((v > F.col("hi")).cast("int")).cast("bigint").alias("n_clipped_high"),
    ).select(
        "l_returnflag",
        F.round("lo", 4).alias("p05"),
        F.round("hi", 4).alias("p95"),
        "avg_raw",
        "avg_winsorized",
        "n",
        "n_clipped_low",
        "n_clipped_high",
    )


# Robust (median/MAD) outlier detection — the anomaly gate that, unlike
# z-scores, does not let the outliers inflate their own threshold
# (mean AND stddev both break down at 50% contamination; median/MAD at
# 0.5/0.5).  Two passes of the two-phase rank percentile
# (operators/percentile.py): per-group median, then the median of
# absolute deviations over the derived column — no buffering aggregate
# at either step.  The modified z-score 0.6745·|x−med|/MAD uses only
# +,−,·,/ of exact-decimal constants; flag threshold 3.5 (Iglewicz-
# Hoaglin) compared on the UNROUNDED score.
@query(
    "mad_outliers_lineitem",
    """
    WITH med AS (
      SELECT l_returnflag,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
      SELECT l.l_returnflag, med,
             quantile_cont(abs(CAST(l_extendedprice AS DOUBLE) - med), 0.5) AS mad
      FROM lineitem l JOIN med ON l.l_returnflag = med.l_returnflag
      GROUP BY l.l_returnflag, med
    )
    SELECT l.l_returnflag,
           round(d.med, 4) AS median_price,
           round(d.mad, 4) AS mad,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN 0.6745 * abs(CAST(l_extendedprice AS DOUBLE) - d.med) / d.mad > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN dev d ON l.l_returnflag = d.l_returnflag
    GROUP BY l.l_returnflag, d.med, d.mad
    """,
)
def mad_outliers_lineitem(spark, sf_dir):
    from ..operators.percentile import exact_percentiles_grouped

    li = _t(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("double")
    med = exact_percentiles_grouped(
        li, ["l_returnflag"], "l_extendedprice", [0.5], ["med"]
    )
    devs = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", "med", F.abs(v - F.col("med")).alias("adev")
    )
    mad = exact_percentiles_grouped(
        devs, ["l_returnflag"], "adev", [0.5], ["mad"]
    )
    cuts = med.join(mad, "l_returnflag")
    score = F.lit(0.6745) * F.abs(v - F.col("med")) / F.col("mad")
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((score > 3.5).cast("int")).cast("bigint").alias("n_outliers"),
        )
        .select(
            "l_returnflag",
            F.round("med", 4).alias("median_price"),
            F.round("mad", 4).alias("mad"),
            "n",
            "n_outliers",
        )
    )


# Last-touch attribution — every purchase credited to the user's most
# recent click within a 7-day lookback (the marketing-analytics read of
# the as-of join; operator composition: asof_join + interval residual,
# exactly the PIT-lookup discipline).  Channel is derived from the
# click's props payload; clicks outside the window fall back to
# 'unattributed'.  Age in exact integer microseconds — no float.
@query(
    "attribution_last_touch",
    """
    WITH purch AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      -- dedup to ONE click per (user_id, ts), keeping the max-event_id
      -- row: DuckDB ASOF and the Spark carry-forward window resolve
      -- equal-timestamp ties each their own way, so ties must not
      -- reach the as-of join at all (ADVICE r3)
      SELECT user_id, ts, ts AS click_ts,
             max_by(json_extract_string(props, '$.k')::BIGINT, event_id) AS k
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS purchase_ts,
           CASE WHEN c.click_ts IS NOT NULL AND c.click_ts >= p.ts - INTERVAL 7 DAY
                THEN CASE CAST(c.k % 3 AS INT)
                       WHEN 0 THEN 'search' WHEN 1 THEN 'social' ELSE 'email' END
                ELSE 'unattributed' END AS channel,
           CASE WHEN c.click_ts IS NOT NULL AND c.click_ts >= p.ts - INTERVAL 7 DAY
                THEN epoch_us(p.ts) - epoch_us(c.click_ts) END AS click_age_us
    FROM purch p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def attribution_last_touch(spark, sf_dir):
    e = _events(spark, sf_dir)
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by(
                F.get_json_object("props", "$.k").cast("bigint"), F.col("event_id")
            ).alias("k")
        )
        .withColumn("click_ts", F.col("ts"))
    )
    j = asof_join(purch, clicks, key="user_id", right_payload=["click_ts", "k"])
    within = F.col("click_ts_asof").isNotNull() & (
        F.col("click_ts_asof") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")
    )
    channel = (
        F.when(
            within,
            F.when(F.col("k_asof") % 3 == 0, F.lit("search"))
            .when(F.col("k_asof") % 3 == 1, F.lit("social"))
            .otherwise(F.lit("email")),
        ).otherwise(F.lit("unattributed"))
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        channel.alias("channel"),
        F.when(
            within, F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts_asof"))
        ).alias("click_age_us"),
    )


# Inverted-index construction — term → (document frequency, sorted
# posting list), the retrieval structure BM25 probes.  One distinct +
# one hash aggregate, both keyed on term; posting lists are sorted
# numerically then serialized to a comma-joined string so the artifact
# (not just its stats) is engine-comparable AND hashable by the
# driver's pandas canonicalizer (list cells crash its sort — the r7
# red row; tools/lint_parity.py now bans top-level array/map outputs).
# At 100 TB the only hot spot is stop-term posting width — cap or
# shard head terms (doc_frequency_terms has the df histogram to pick
# the cap); the aggregate itself is a standard explode+groupBy.
@query(
    "inverted_index_postings",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    )
    SELECT term, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM tok GROUP BY term
    """,
)
def inverted_index_postings(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias(
            "term"
        ),
    )
    return tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.sort_array(F.collect_list("doc_id")).cast("array<string>"), ","
        ).alias("postings"),
    )


# Survivorship / golden-record assembly — the MDM step after matching:
# within each exact-dup cluster (fingerprint groups; the fuzzy-match
# path feeds the same shape), fuse one canonical record with per-field
# rules — min id as the stable key, longest text wins the body, modal
# value wins lang/source.  All three rules are single-pass aggregates
# (max_by on (metric, label) structs — no per-cluster sort), keyed on
# the cluster id: three hash aggregates + two joins on fp, no skew
# (cluster sizes are dedup-bounded).  Ties break to the GREATEST label
# (struct-lexicographic max), pinned on both engines.
@query(
    "survivorship_golden_docs",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      UNION ALL  -- case-variant mirror: same fingerprint, other source
      SELECT doc_id + 1000000, upper(text), lang, 'mirror', n_chars
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL  -- padded mirror: same fingerprint, longer body
      SELECT doc_id + 2000000, text || ' ', lang, 'padded', n_chars + 1
      FROM documents WHERE doc_id % 7 = 0
    ),
    d AS (
      SELECT doc_id, lang, source, n_chars, {_NORM_SQL} AS fp FROM all_docs
    ),
    base AS (
      SELECT fp, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_members
      FROM d GROUP BY fp
    ),
    longest AS (
      SELECT fp, doc_id AS longest_doc FROM (
        SELECT fp, doc_id,
               row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id DESC) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    lm AS (
      SELECT fp, lang AS lang_mode FROM (
        SELECT fp, lang,
               row_number() OVER (PARTITION BY fp ORDER BY COUNT(*) DESC, lang DESC) AS rn
        FROM d GROUP BY fp, lang
      ) WHERE rn = 1
    ),
    sm AS (
      SELECT fp, source AS source_mode FROM (
        SELECT fp, source,
               row_number() OVER (PARTITION BY fp ORDER BY COUNT(*) DESC, source DESC) AS rn
        FROM d GROUP BY fp, source
      ) WHERE rn = 1
    )
    SELECT base.fp, canonical_doc, n_members, longest_doc, lang_mode, source_mode
    FROM base JOIN longest USING (fp) JOIN lm USING (fp) JOIN sm USING (fp)
    """,
)
def survivorship_golden_docs(spark, sf_dir):
    from ..operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    mirror = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
        "lang",
        F.lit("mirror").alias("source"),
        "n_chars",
    )
    padded = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ")).alias("text"),
        "lang",
        F.lit("padded").alias("source"),
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    d = (
        docs.unionByName(mirror)
        .unionByName(padded)
        .withColumn("fp", fingerprint(F.col("text")))
    )
    base = d.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_members"),
        arg_max(F.col("doc_id"), F.struct(F.col("n_chars"), F.col("doc_id"))).alias(
            "longest_doc"
        ),
    )
    lm = d.groupBy("fp", "lang").agg(F.count(F.lit(1)).alias("c"))
    lm = lm.groupBy("fp").agg(
        arg_max(F.col("lang"), F.struct(F.col("c"), F.col("lang"))).alias("lang_mode")
    )
    sm = d.groupBy("fp", "source").agg(F.count(F.lit(1)).alias("c"))
    sm = sm.groupBy("fp").agg(
        arg_max(F.col("source"), F.struct(F.col("c"), F.col("source"))).alias(
            "source_mode"
        )
    )
    return base.join(lm, "fp").join(sm, "fp").select(
        "fp", "canonical_doc", "n_members", "longest_doc", "lang_mode", "source_mode"
    )


# DAU / WAU stickiness — trailing-7-day distinct users per day.  The
# naive form is COUNT(DISTINCT) over a RANGE window (unbounded state);
# the scalable rewrite EXPLODES each user-day into the ≤7 window-end
# days it contributes to, then runs a plain distinct aggregate per day
# — bounded 7× fanout, equi-shuffled on the day key, no range join.
# The oracle keeps the honest range-join formulation.
@query(
    "dau_wau_stickiness",
    """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
    wau AS (
      SELECT days.d, COUNT(DISTINCT ud.user_id) AS wau
      FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
      GROUP BY days.d
    )
    SELECT CAST(days.d AS VARCHAR) AS day, dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM days JOIN dau ON days.d = dau.d JOIN wau ON days.d = wau.d
    """,
)
def dau_wau_stickiness(spark, sf_dir):
    e = _events(spark, sf_dir)
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    ud = materialize(ud, "dau_wau_stickiness.ud")  # feeds days, dau AND the fanout
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("wd"),
    )
    wau = (
        contrib.join(days, contrib["wd"] == days["d"])
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["d"] == wau["wd"])
        .select(
            F.col("d").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


# Session path mining — sessionize each user's stream by 30-minute
# inactivity gaps (lag + cumulative-sum-of-boundaries, the batch twin
# of session_window) and rank the most common event-type paths.  The
# gap test is exact integer microseconds; paths assemble inside one
# hash aggregate per session (sorted (ts, event_id) structs); the
# final top-20 is a tiny ordered limit over the path counts.
@query(
    "session_paths_events",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  )) > 1800000000 OR lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    tagged AS (
      SELECT *, CAST(SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS sess
      FROM seq
    ),
    paths AS (
      SELECT user_id, sess,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM tagged GROUP BY user_id, sess
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def session_paths_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap.isNull() | (gap > 1_800_000_000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_sess"),
    )
    tagged = seq.withColumn(
        "sess",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    paths = tagged.groupBy("user_id", "sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


# Hard-negative mining — for each anchor, the highest-cosine corpus
# vectors with a DIFFERENT label (the contrastive-training batch
# builder: negatives that are hard precisely because they score high).
# Same broadcast-anchor shape as embedding_cosine_topk with the label
# disequality folded into the join — no extra pass.
@query(
    "hard_negative_mining",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
      FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6) AS score
      FROM q JOIN embeddings e
        ON e.vec_id <> q.query_id AND e.label <> q.qlabel
    )
    SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def hard_negative_mining(spark, sf_dir):
    from ..operators.similarity import dot_codegen

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin([0, 1, 2, 3, 4])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        F.broadcast(q)
        .join(
            e,
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("qlabel")),
        )
        .select(
            "query_id",
            "vec_id",
            F.round(dot_codegen("qv", "embedding"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "score", F.col("rank").cast("int").alias("rank"))
    )


# Matryoshka truncation audit — recall@10 of the 16-dim embedding
# prefix against the full 64-dim neighbors (the measurement behind
# "can we serve the short vectors?").  Two broadcast top-k passes +
# one pair join; both engines rank on the same rounded scores with the
# same id tie-break, so the recall integers are exact.
@query(
    "matryoshka_recall_audit",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    full_top AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6) DESC,
                          e.vec_id) AS rank
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
      ) WHERE rank <= 10
    ),
    trunc_top AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv[1:16], (e.embedding::DOUBLE[])[1:16]), 6) DESC,
                          e.vec_id) AS rank
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
      ) WHERE rank <= 10
    )
    SELECT f.query_id, COUNT(t.vec_id) AS n_common,
           CAST(COUNT(t.vec_id) AS DOUBLE) / 10 AS recall_at_10
    FROM full_top f LEFT JOIN trunc_top t
      ON f.query_id = t.query_id AND f.vec_id = t.vec_id
    GROUP BY f.query_id
    """,
)
def matryoshka_recall_audit(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    full = cosine_topk(e, qids, k=10, dims=64).select("query_id", "vec_id")
    trunc = cosine_topk(
        e.withColumn("embedding", F.slice("embedding", 1, 16)), qids, k=10, dims=16
    ).select(F.col("query_id").alias("tq"), F.col("vec_id").alias("tv"))
    j = full.join(
        trunc,
        (F.col("query_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("tv").alias("n_common"),
        (F.count("tv").cast("double") / 10).alias("recall_at_10"),
    )


# Maximal Marginal Relevance — diversity-aware re-ranking of the top-20
# cosine candidates: pick argmax λ·rel − (1−λ)·max-sim-to-selected,
# three unrolled steps (the oracle mirrors them CTE-for-CTE).  The
# candidate set is k′-bounded (20) REGARDLESS of corpus size — the
# expensive part is the initial top-k, which is the ANN family's job;
# every MMR step is then a ≤20-row argmax and the pairwise-sim table is
# ≤k′² broadcast rows.  All scores are literal-arithmetic over
# rounded-6 doubles with id tie-breaks — engine-exact.
@query(
    "mmr_rerank_topk",
    """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 5
    ),
    cand AS (
      SELECT vec_id, rel FROM (
        SELECT e.vec_id,
               round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6) AS rel,
               row_number() OVER (
                 ORDER BY round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6) DESC,
                          e.vec_id) AS rank
        FROM q JOIN embeddings e ON e.vec_id <> 5
      ) WHERE rank <= 20
    ),
    cvec AS (
      SELECT c.vec_id, c.rel, e.embedding::DOUBLE[] AS v
      FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
    ),
    sim AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_dot_product(a.v, b.v), 6) AS s
      FROM cvec a JOIN cvec b ON a.vec_id <> b.vec_id
    ),
    s1 AS (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
    r2 AS (
      SELECT c.vec_id,
             CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.s AS mmr
      FROM cand c
      JOIN sim m ON m.ia = c.vec_id AND m.ib = (SELECT vec_id FROM s1)
      WHERE c.vec_id <> (SELECT vec_id FROM s1)
    ),
    s2 AS (SELECT vec_id, mmr FROM r2 ORDER BY mmr DESC, vec_id LIMIT 1),
    r3 AS (
      SELECT c.vec_id,
             CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * MAX(m.s) AS mmr
      FROM cand c
      JOIN sim m ON m.ia = c.vec_id
                AND m.ib IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))
      WHERE c.vec_id NOT IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))
      GROUP BY c.vec_id, c.rel
    ),
    s3 AS (SELECT vec_id, mmr FROM r3 ORDER BY mmr DESC, vec_id LIMIT 1)
    SELECT 1 AS pos, vec_id, round(rel, 6) AS mmr_score FROM s1
    UNION ALL SELECT 2, vec_id, round(mmr, 6) FROM s2
    UNION ALL SELECT 3, vec_id, round(mmr, 6) FROM s3
    """,
)
def mmr_rerank_topk(spark, sf_dir):
    from ..operators.similarity import dot_codegen

    e = _t(spark, sf_dir, "embeddings")
    cand = (
        cosine_topk(e, [5], k=20, dims=64)
        .select("vec_id", F.col("score").alias("rel"))
    )
    # columns by name below: every join's sides have distinct names, and
    # under plan_only() sim's lineage repeats inside sel2
    cvec = cand.join(e.select("vec_id", "embedding"), "vec_id").select(
        "vec_id", "rel", F.col("embedding").alias("v")
    )
    cvec = materialize(cvec, "mmr_rerank_topk.cvec")  # ≤20 rows; feeds sim AND three argmax steps
    a = cvec.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = cvec.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    sim = (
        a.join(b, F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.round(dot_codegen("va", "vb"), 6).alias("s"))
    )
    sim = materialize(sim, "mmr_rerank_topk.sim")
    cand = cvec.select("vec_id", "rel")

    lam, one_m = F.lit(0.7), F.lit(0.3)
    s1 = cand.orderBy(F.desc("rel"), F.asc("vec_id")).limit(1)
    s1_id = s1.select(F.col("vec_id").alias("sel"))
    r2 = (
        cand.join(F.broadcast(s1_id), F.col("vec_id") != F.col("sel"))
        .join(sim, (F.col("ia") == F.col("vec_id")) & (F.col("ib") == F.col("sel")))
        .select("vec_id", (lam * F.col("rel") - one_m * F.col("s")).alias("mmr"))
    )
    s2 = r2.orderBy(F.desc("mmr"), F.asc("vec_id")).limit(1)
    sel2 = s1_id.unionByName(s2.select(F.col("vec_id").alias("sel")))
    sel2 = materialize(sel2, "mmr_rerank_topk.sel2")
    r3 = (
        cand.join(
            F.broadcast(sel2.groupBy().agg(F.collect_set("sel").alias("sels")))
        )
        .filter(~F.array_contains(F.col("sels"), F.col("vec_id")))
        .join(sim, F.col("ia") == F.col("vec_id"))
        .join(F.broadcast(sel2), F.col("ib") == F.col("sel"))
        .groupBy("vec_id", "rel")
        .agg(F.max("s").alias("ms"))
        .select("vec_id", (lam * F.col("rel") - one_m * F.col("ms")).alias("mmr"))
    )
    s3 = r3.orderBy(F.desc("mmr"), F.asc("vec_id")).limit(1)
    return (
        s1.select(F.lit(1).alias("pos"), "vec_id", F.round("rel", 6).alias("mmr_score"))
        .unionByName(
            s2.select(F.lit(2).alias("pos"), "vec_id", F.round("mmr", 6).alias("mmr_score"))
        )
        .unionByName(
            s3.select(F.lit(3).alias("pos"), "vec_id", F.round("mmr", 6).alias("mmr_score"))
        )
    )


# Wilson-score lower bound on the daily purchase share among
# click+purchase interactions — the ranking-safe conversion estimate
# (a 2/3 day never outranks a 400/1000 day on the lower bound).  Every term is +,·,/,√ over exact integer
# counts and double literals — all correctly-rounded IEEE ops, so the
# expression (written with IDENTICAL structure on both engines)
# matches before the final round(…,6).  One aggregate on the day key.
@query(
    "ctr_wilson_bounds",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type IN ('click', 'purchase')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS s
      FROM events GROUP BY CAST(ts AS DATE)
    )
    SELECT CAST(d AS VARCHAR) AS day, n AS trials, s AS successes,
           round(CAST(s AS DOUBLE) / n, 6) AS p_hat,
           round(
             ((CAST(s AS DOUBLE) / n)
              + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2 * CAST(n AS DOUBLE))
              - CAST(1.96 AS DOUBLE) * sqrt(
                  (CAST(s AS DOUBLE) / n) * (1 - CAST(s AS DOUBLE) / n) / n
                  + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                    / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE)),
             6) AS wilson_lower
    FROM daily WHERE n > 0
    """,
)
def ctr_wilson_bounds(spark, sf_dir):
    e = _events(spark, sf_dir)
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("event_type").isin("click", "purchase").cast("int"))
        .cast("bigint")
        .alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("s"),
    ).filter(F.col("n") > 0)
    z = F.lit(1.96)
    nd = F.col("n").cast("double")
    p = F.col("s").cast("double") / F.col("n")
    wilson = (
        (p + (z * z) / (2 * nd) - z * F.sqrt(p * (1 - p) / F.col("n") + (z * z) / (4 * nd * nd)))
        / (1 + (z * z) / nd)
    )
    return daily.select(
        F.col("d").cast("string").alias("day"),
        F.col("n").alias("trials"),
        F.col("s").alias("successes"),
        F.round(p, 6).alias("p_hat"),
        F.round(wilson, 6).alias("wilson_lower"),
    )


# A/B experiment readout over a deterministic content-hash split
# (operators/sampling.hash_bucket — the same engine-portable membership
# as every split here): per-arm purchase-value means, relative lift,
# and the two-sample z statistic.  Arms assign by user hash, so re-runs
# and engines agree row-for-row; the variance aggregates differ in
# last-ulps between engines (different accumulation algorithms) and are
# absorbed by round(…,6).
@query(
    "ab_test_lift",
    """
    WITH tagged AS (
      SELECT CASE WHEN CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 10000 < 5000
                  THEN 'A' ELSE 'B' END AS arm,
             value
      FROM events WHERE event_type = 'purchase'
    ),
    arms AS (
      SELECT arm, COUNT(*) AS n, AVG(value) AS mean, var_samp(value) AS v
      FROM tagged GROUP BY arm
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
        MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
        MAX(CASE WHEN arm = 'A' THEN mean END) AS mean_a,
        MAX(CASE WHEN arm = 'B' THEN mean END) AS mean_b,
        MAX(CASE WHEN arm = 'A' THEN v END) AS v_a,
        MAX(CASE WHEN arm = 'B' THEN v END) AS v_b
      FROM arms
    )
    SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
           round((mean_b - mean_a) / mean_a, 6) AS rel_lift,
           round((mean_b - mean_a)
                 / sqrt(v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE)), 6)
             AS z_score
    FROM wide
    """,
)
def ab_test_lift(spark, sf_dir):
    from ..operators.sampling import hash_bucket

    e = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    tagged = e.select(
        F.when(hash_bucket(F.col("user_id")) < 5000, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
        "value",
    )
    arms = tagged.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("v"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "A", F.col("mean"))).alias("mean_a"),
        F.max(F.when(F.col("arm") == "B", F.col("mean"))).alias("mean_b"),
        F.max(F.when(F.col("arm") == "A", F.col("v"))).alias("v_a"),
        F.max(F.when(F.col("arm") == "B", F.col("v"))).alias("v_b"),
    )
    return wide.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round((F.col("mean_b") - F.col("mean_a")) / F.col("mean_a"), 6).alias(
            "rel_lift"
        ),
        F.round(
            (F.col("mean_b") - F.col("mean_a"))
            / F.sqrt(
                F.col("v_a") / F.col("n_a").cast("double")
                + F.col("v_b") / F.col("n_b").cast("double")
            ),
            6,
        ).alias("z_score"),
    )


# Join-key skew report — the pre-flight diagnosis before any big join:
# key cardinality, hottest-key share, top-10 concentration, and the
# Herfindahl index of the key distribution.  One count aggregate on the
# key + one tiny ordered limit; the report is what decides between a
# plain shuffle join, salting, or a skew-split hint.
@query(
    "skew_report_lineitem",
    """
    WITH counts AS (
      SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
      SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
             MAX(cnt) AS max_cnt
      FROM counts
    ),
    hhi AS (
      SELECT round(SUM((CAST(cnt AS DOUBLE) / t.n_rows)
                       * (CAST(cnt AS DOUBLE) / t.n_rows)), 9) AS hhi
      FROM counts CROSS JOIN tot t
    ),
    top10 AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS top10_rows
      FROM (SELECT cnt FROM counts ORDER BY cnt DESC, l_partkey LIMIT 10)
    )
    SELECT n_keys, n_rows, max_cnt,
           round(CAST(max_cnt AS DOUBLE) / n_rows, 9) AS max_share,
           round(CAST(top10_rows AS DOUBLE) / n_rows, 9) AS top10_share,
           hhi
    FROM tot CROSS JOIN hhi CROSS JOIN top10
    """,
)
def skew_report_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    # feeds totals, the HHI pass AND the top-10
    counts = materialize(counts, "skew_report_lineitem.counts")
    tot = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    hhi = (
        counts.crossJoin(F.broadcast(tot.select("n_rows")))
        .select(
            (
                (F.col("cnt").cast("double") / F.col("n_rows"))
                * (F.col("cnt").cast("double") / F.col("n_rows"))
            ).alias("sh2")
        )
        .agg(F.round(F.sum("sh2"), 9).alias("hhi"))
    )
    top10 = (
        counts.orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(10)
        .agg(F.sum("cnt").cast("bigint").alias("top10_rows"))
    )
    return tot.crossJoin(hhi).crossJoin(top10).select(
        "n_keys",
        "n_rows",
        "max_cnt",
        F.round(F.col("max_cnt").cast("double") / F.col("n_rows"), 9).alias(
            "max_share"
        ),
        F.round(F.col("top10_rows").cast("double") / F.col("n_rows"), 9).alias(
            "top10_share"
        ),
        "hhi",
    )


# Time-decayed engagement score — recency-weighted activity (the
# feature-store staple).  Weights are LITERAL half-life steps on whole-
# week age buckets (1, ½, ¼, ⅛, ¹⁄₁₆) — exactly-representable
# powers of two via CASE, never pow()/exp() (transcendental libm calls
# are not correctly rounded and differ across engines).  Age anchors to
# the corpus max day: one scalar aggregate broadcast to the scan.
@query(
    "time_decayed_engagement",
    """
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS d1 FROM events),
    aged AS (
      SELECT user_id, value,
             CAST(d1 - CAST(ts AS DATE) AS INTEGER) // 7 AS age_weeks
      FROM events CROSS JOIN mx
      WHERE event_type IN ('click', 'purchase')
    )
    SELECT user_id,
           round(SUM(value * CASE age_weeks
                               WHEN 0 THEN CAST(1.0 AS DOUBLE)
                               WHEN 1 THEN CAST(0.5 AS DOUBLE)
                               WHEN 2 THEN CAST(0.25 AS DOUBLE)
                               WHEN 3 THEN CAST(0.125 AS DOUBLE)
                               ELSE CAST(0.0625 AS DOUBLE) END), 6) AS score,
           COUNT(*) AS n_events
    FROM aged GROUP BY user_id
    """,
)
def time_decayed_engagement(spark, sf_dir):
    e = _events(spark, sf_dir).filter(F.col("event_type").isin("click", "purchase"))
    mx = e.agg(F.max(F.to_date("ts")).alias("d1"))
    aged = e.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "value",
        (F.datediff(F.col("d1"), F.to_date("ts")) / 7).cast("int").alias("age_weeks"),
    )
    w = (
        F.when(F.col("age_weeks") == 0, F.lit(1.0))
        .when(F.col("age_weeks") == 1, F.lit(0.5))
        .when(F.col("age_weeks") == 2, F.lit(0.25))
        .when(F.col("age_weeks") == 3, F.lit(0.125))
        .otherwise(F.lit(0.0625))
    )
    return aged.groupBy("user_id").agg(
        F.round(F.sum(F.col("value") * w), 6).alias("score"),
        F.count(F.lit(1)).alias("n_events"),
    )


# Association rules over co-ordered parts — support / confidence / lift
# (the market-basket classic).  Reuses the bounded per-order pair
# expansion (groupBy + in-task combinatorics, no fact self-join);
# support counts come from ONE pair aggregate and item counts from one
# item aggregate joined back.  Everything is exact integer ratios — no
# log, no float boundary; ordering on rounded lift with pair tie-break.
@query(
    "association_rules_parts",
    """
    WITH baskets AS (
      SELECT l_orderkey, list_distinct(list(l_partkey)) AS ps
      FROM lineitem GROUP BY l_orderkey
    ),
    n_orders AS (SELECT COUNT(*) AS n FROM baskets),
    items AS (
      SELECT unnest(ps) AS item, l_orderkey FROM baskets
    ),
    item_counts AS (SELECT item, COUNT(*) AS n_item FROM items GROUP BY item),
    pairs AS (
      SELECT a.item AS ante, b.item AS cons, COUNT(*) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT ante, cons, n_pair,
           round(CAST(n_pair AS DOUBLE) / n.n, 6) AS support,
           round(CAST(n_pair AS DOUBLE) / ia.n_item, 6) AS confidence,
           round(CAST(n_pair AS DOUBLE) * n.n
                 / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
    FROM pairs
    JOIN item_counts ia ON pairs.ante = ia.item
    JOIN item_counts ib ON pairs.cons = ib.item
    CROSS JOIN n_orders n
    WHERE n_pair >= 2
    ORDER BY lift DESC, ante, cons LIMIT 20
    """,
)
def association_rules_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()  # (order, item) memberships
    # feeds order count, item counts AND pairs
    items = materialize(items, "association_rules_parts.items")
    n_orders = items.select("l_orderkey").distinct().count()
    item_counts = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    per_order = items.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = (
        per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(least(x, y) AS ante, greatest(x, y) AS cons))))"
                )
            ).alias("p")
        )
        .select("p.ante", "p.cons")
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    ia = item_counts.select(
        F.col("l_partkey").alias("ante"), F.col("n_item").alias("n_a")
    )
    ib = item_counts.select(
        F.col("l_partkey").alias("cons"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ib), "cons")
        .select(
            "ante",
            "cons",
            "n_pair",
            F.round(F.col("n_pair").cast("double") / F.lit(n_orders), 6).alias(
                "support"
            ),
            F.round(F.col("n_pair").cast("double") / F.col("n_a"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_pair").cast("double")
                * F.lit(n_orders)
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("ante"), F.asc("cons"))
        .limit(20)
    )


# Per-user behavioral entropy — Shannon entropy (and perplexity) of the
# event-type distribution, the "diversity of behavior" feature.  p's
# are exact integer ratios; log2 is transcendental (NOT correctly
# rounded, engines may differ in the last ulp) so it appears only under
# the round(…,6) on output VALUES — never in a membership or ordering
# decision (NOTES.md float-parity rule).
@query(
    "user_event_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY user_id)
    SELECT c.user_id,
           CAST(COUNT(*) AS INTEGER) AS n_types,
           MAX(t.tot) AS n_events,
           round(-SUM((CAST(n AS DOUBLE) / tot) * log2(CAST(n AS DOUBLE) / tot)), 6)
             AS entropy_bits
    FROM c JOIN t ON c.user_id = t.user_id
    GROUP BY c.user_id
    """,
)
def user_event_entropy(spark, sf_dir):
    e = _events(spark, sf_dir)
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").cast("bigint").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_types"),
            F.max("tot").alias("n_events"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
        )
    )


# Equi-depth binning — quantile-edged histogram (every bin ≈ equal
# population; the feature-discretization and optimizer-statistics
# primitive equi-WIDTH histograms can't replace on skewed data).  Edges
# from one array-fraction percentile aggregate broadcast to the scan;
# bin assignment compares the raw value against interpolated cutoffs
# (strictly interior data can't sit within 1 ulp of them, so counts are
# engine-exact).
@query(
    "equidepth_bins_orders",
    """
    WITH cuts AS (
      SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM orders
    ),
    binned AS (
      SELECT CAST(len(list_filter(qs, q -> CAST(o_totalprice AS DOUBLE) >= q)) AS INTEGER) AS bin
      FROM orders CROSS JOIN cuts
    )
    SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin
    """,
)
def equidepth_bins_orders(spark, sf_dir):
    from ..operators.percentile import exact_percentiles_grouped

    o = _t(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    names = [f"__q{k}" for k in range(1, 10)]
    cuts = exact_percentiles_grouped(
        o, [], "o_totalprice", [k / 10 for k in range(1, 10)], names
    ).select(F.array(*[F.col(n) for n in names]).alias("qs"))
    binned = o.crossJoin(F.broadcast(cuts)).select(
        F.size(F.filter(F.col("qs"), lambda q: v >= q)).cast("int").alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))


# Cross-document repeated-chunk detection — boilerplate SPANS (headers,
# disclaimers, templates) that whole-doc fingerprints and doc-level
# near-dup both miss: chunk every doc with the sliding splitter, md5
# each chunk, keep fingerprints seen in ≥2 DISTINCT docs.  One chunk
# explode + one fingerprint aggregate; the hot key (a viral boilerplate
# chunk) lands on one reducer only for its COUNT — no list
# materialization.
@query(
    "duplicate_chunk_spans",
    """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ),
    counted AS (
      SELECT doc_id, words,
             CAST(ceil(greatest(len(words) - 64, 0) / 48.0) AS INTEGER) + 1 AS n_chunks
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, g.c AS chunk_id,
             md5(array_to_string(words[g.c * 48 + 1 : g.c * 48 + 64], ' ')) AS fp
      FROM counted, LATERAL (
        SELECT unnest(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS c
      ) g
    )
    SELECT fp, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences,
           MIN(doc_id) AS min_doc
    FROM chunks GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def duplicate_chunk_spans(spark, sf_dir):
    from ..operators.text import chunk_documents

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=64, stride=48
    ).select("doc_id", F.md5(F.col("chunk_text")).alias("fp"))
    return (
        chunks.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# Chi-square independence test: event type × day-of-week contingency —
# "does behavior depend on the weekday?".  Observed counts are one
# aggregate; expected counts are row-total × col-total / N (exact
# integer products in double); χ² sums (O−E)²/E over ≤7·|types| cells.
# Day-of-week alignment pinned: DuckDB dayofweek() is Sunday=0, Spark
# dayofweek() is Sunday=1 — the Spark side subtracts 1.
@query(
    "chisq_event_dow",
    """
    WITH obs AS (
      SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
      FROM events GROUP BY event_type, dayofweek(ts)
    ),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY event_type),
    ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY dow),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    cells AS (
      SELECT o.o,
             CAST(rt.r AS DOUBLE) * ct.c / n.n AS e
      FROM obs o JOIN rt ON o.event_type = rt.event_type
                JOIN ct ON o.dow = ct.dow CROSS JOIN n
    )
    SELECT round(SUM((o - e) * (o - e) / e), 6) AS chi2,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS INTEGER)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS INTEGER) AS dof,
           (SELECT n FROM n) AS n
    FROM cells
    """,
)
def chisq_event_dow(spark, sf_dir):
    e = _events(spark, sf_dir)
    obs = e.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    obs = materialize(obs, "chisq_event_dow.obs")  # feeds row/col/grand totals AND the cells
    rt = obs.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c"))
    n = obs.agg(F.sum("o").cast("bigint").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "o",
            (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("e"),
            "n",
        )
    )
    chi2 = cells.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
            6,
        ).alias("chi2"),
        F.max("n").alias("n"),
    )
    dof = (
        rt.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("nc")))
        .select(((F.col("nr") - 1) * (F.col("nc") - 1)).cast("int").alias("dof"))
    )
    return chi2.crossJoin(F.broadcast(dof)).select("chi2", "dof", "n")


# Production variant of the exact set-similarity join: collapse exact-
# fingerprint duplicates to min-id representatives FIRST (one cheap
# aggregate), join over representatives, carry multiplicities.  This is
# the answer to the operator's Σ|cluster|² output law: m copies of a
# document are m(m−1)/2 pairs in the naive join but ONE representative
# here — 16×-replica probe: 32.5× naive vs 1.3× collapsed.  The upper-
# cased mirror rows create real multiplicity (fingerprint casefolds).
@query(
    "jaccard_prefix_join_collapsed",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id % 10 = 0
    ),
    fp AS (SELECT doc_id, text, {_NORM_SQL} AS f FROM all_docs),
    reps AS (
      SELECT f, MIN(doc_id) AS doc_id, COUNT(*) AS mult FROM fp GROUP BY f
    ),
    rd AS (
      SELECT r.doc_id, r.mult, fp.text
      FROM reps r JOIN fp ON fp.doc_id = r.doc_id
    ),
    tokw AS (SELECT doc_id, mult, string_split(lower(text), ' ') AS words FROM rd),
    sh AS (
      SELECT doc_id, mult,
        CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
        END AS shingles
      FROM tokw
    ),
    d AS (
      SELECT doc_id, mult,
             list_distinct(list_transform(shingles,
               s -> CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT))) AS toks
      FROM sh
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.mult AS multiplicity_a, b.mult AS multiplicity_b,
             len(list_intersect(a.toks, b.toks)) AS inter,
             len(a.toks) AS sa, len(b.toks) AS sb
      FROM d a JOIN d b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, inter, sa + sb - inter AS uni,
           round(CAST(inter AS DOUBLE) / (sa + sb - inter), 6) AS jaccard,
           multiplicity_a, multiplicity_b
    FROM p WHERE 100 * inter >= 60 * (sa + sb - inter)
    """,
)
def jaccard_prefix_join_collapsed(spark, sf_dir):
    from ..operators.dedup import prefix_filter_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mirror = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    return prefix_filter_jaccard_pairs(
        docs.unionByName(mirror), "doc_id", "text", collapse_exact=True
    )


# Least-squares trend slope of daily revenue — the "is the metric
# drifting" primitive behind alerting and forecasting baselines.
# Slope/intercept from the closed-form normal equations over exact
# aggregates: x is an integer day index (no epoch-scale cancellation),
# y is DECIMAL-summed then cast — the only doubles are the final
# divisions, rounded.  One day-keyed aggregate + one scalar pass.
@query(
    "daily_revenue_trend",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS DOUBLE) / 10000.0 AS y
      FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)
    ),
    indexed AS (
      SELECT CAST(d - (SELECT MIN(d) FROM daily) AS INTEGER) AS x, y FROM daily
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
             SUM(y) AS sy, SUM(x * y) AS sxy
      FROM indexed
    )
    SELECT n,
           round((n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx), 6)
             AS slope_per_day,
           round((sy - (n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx) * sx)
                 / n, 6) AS intercept
    FROM s
    """,
)
def daily_revenue_trend(spark, sf_dir):
    e = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    # rule #6: per-day revenue summed as exact int64 1e-4 units, ONE
    # shared (double)u / 1e4 conversion — bit-stable at any magnitude.
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        (F.sum(_units4("value")).cast("double") / F.lit(10000.0)).alias("y")
    )
    d0 = daily.agg(F.min("d").alias("d0"))
    indexed = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff(F.col("d"), F.col("d0")).alias("x"), "y"
    )
    s = indexed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("bigint") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    return s.select(
        "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# CUSUM change-point detection over the daily revenue series — the
# level-shift monitor behind data-drift and metric-regression alerts:
# cusum_i = Σ_{j≤i}(y_j − ȳ) peaks at the day the mean shifts, and the
# peak location is the classic single-change-point estimate.  FP
# parity is by CONSTRUCTION, not hope: each daily y is an exact
# decimal→double, ȳ = (exact decimal total)→double / n, and the
# cumulative window sums LEFT-TO-RIGHT in date order on both engines —
# ordered accumulation is deterministic where a parallel SUM is not.
# The windows are over the POST-AGGREGATION day series (hundreds of
# rows however big the fact table — same bounded-by-construction
# argument as markov's |event_types|² matrix), so the unpartitioned
# cumulative window is not a scale hazard.
@query(
    "cusum_changepoint_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)
    ),
    m AS (
      SELECT CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
               / COUNT(DISTINCT CAST(ts AS DATE)) AS mean_y
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      -- cusum_i = (exact decimal prefix sum) − i·ȳ: decimal addition
      -- is associative, so the window's internal summation order
      -- (segment tree vs left-to-right) cannot drift the value
      SELECT d,
             CAST(SUM(y) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             - (row_number() OVER (ORDER BY d)) * m.mean_y AS cusum,
             m.mean_y
      FROM daily CROSS JOIN m
    )
    SELECT CAST(d AS VARCHAR) AS change_date,
           round(abs(cusum), 4) AS cusum_peak,
           round(mean_y, 4) AS mean_daily
    FROM c
    ORDER BY abs(cusum) DESC, d LIMIT 1
    """,
)
def cusum_changepoint_daily(spark, sf_dir):
    e = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(F.sum(_dec("value")), 2).alias("y")  # exact decimal
    )
    # mean from the exact decimal TOTAL (one cast), not a double sum of
    # per-day values — parallel double summation is order-dependent
    m = e.agg(
        (
            F.round(F.sum(_dec("value")), 2).cast("double")
            / F.count_distinct(F.to_date("ts"))
        ).alias("mean_y")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wr = Window.orderBy("d")
    # cusum = (exact decimal prefix sum)→double − i·ȳ: the decimal
    # window sum is order-insensitive, so both engines agree bit-wise
    c = daily.crossJoin(F.broadcast(m)).withColumn(
        "cusum",
        F.sum("y").over(w).cast("double")
        - F.row_number().over(wr) * F.col("mean_y"),
    )
    return (
        c.orderBy(F.abs(F.col("cusum")).desc(), F.asc("d"))
        .limit(1)
        .select(
            F.col("d").cast("string").alias("change_date"),
            F.round(F.abs(F.col("cusum")), 4).alias("cusum_peak"),
            F.round("mean_y", 4).alias("mean_daily"),
        )
    )


# Funnel latency percentiles — view → purchase time-to-convert p50/p90
# per converting user (first view, first LATER purchase), the latency
# companion to funnel_conversion_events' rate.  Deltas in exact integer
# seconds; percentile interpolation parity as in exact_percentiles.
@query(
    "funnel_latency_percentiles",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    delays AS (
      SELECT (epoch_us(p.t_purchase) - epoch_us(v.t_view)) // 1000000 AS delay_s
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT COUNT(*) AS n_converted,
           round(quantile_cont(CAST(delay_s AS DOUBLE), 0.5), 4) AS p50_s,
           round(quantile_cont(CAST(delay_s AS DOUBLE), 0.9), 4) AS p90_s
    FROM delays
    """,
)
def funnel_latency_percentiles(spark, sf_dir):
    e = _events(spark, sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"), F.min("t_view").alias("t_view"))
    )
    delays = p.select(
        (
            (F.unix_micros(F.col("t_purchase")) - F.unix_micros(F.col("t_view")))
            / F.lit(1000000)
        )
        .cast("bigint")
        .alias("delay_s")
    )
    from ..operators.percentile import exact_percentiles_grouped

    # feeds the count AND both rank passes
    delays = materialize(delays, "funnel_latency_percentiles.delays")
    qs = exact_percentiles_grouped(
        delays, [], "delay_s", [0.5, 0.9], ["__p50", "__p90"]
    )
    return delays.agg(F.count(F.lit(1)).alias("n_converted")).crossJoin(
        F.broadcast(qs)
    ).select(
        "n_converted",
        F.round(F.col("__p50"), 4).alias("p50_s"),
        F.round(F.col("__p90"), 4).alias("p90_s"),
    )


# END-TO-END corpus curation — the full training-data chain as ONE
# oracle-checked composition: language + length gate → exact-fingerprint
# dedup → MinHash/LSH near-dup clustering (keep canonical) → greedy
# token-budget selection.  Each stage is individually verified above;
# this pins their COMPOSITION (the artifact a pipeline actually ships).
# The mirror/variant unions plant real exact- and near-dups so every
# stage provably removes something.  Scale shape: stage 1 is a scan
# filter, stage 2 one fingerprint aggregate, stage 3 the bucketed LSH +
# checkpoint-bounded components, stage 4 the two-phase global cumsum —
# no stage regresses the operators' individual plans.
@query(
    "curate_corpus_end_to_end",
    f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, text FROM documents
      WHERE lang = 'en' AND len(string_split(lower(text), ' ')) >= 20
    ),
    corpus AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 1000000, upper(text) FROM base WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || ' zz yy xx' FROM base WHERE doc_id % 25 = 0
    ),
    fpd AS (SELECT doc_id, text, {_NORM_SQL} AS f FROM corpus),
    exact AS (SELECT f, MIN(doc_id) AS keep FROM fpd GROUP BY f),
    survivors AS (
      SELECT fpd.doc_id, fpd.text FROM fpd JOIN exact ON fpd.doc_id = exact.keep
    ),
    tok AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM survivors),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
        END AS shingles
      FROM tok
    ),
    sig AS (SELECT doc_id, {_MINHASH_SIG_SQL} AS sig FROM sh),
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
    canon AS (
      SELECT s.doc_id, s.text FROM survivors s
      WHERE NOT EXISTS (
        SELECT 1 FROM clusters cl WHERE cl.node = s.doc_id AND cl.node <> cl.cluster
      )
    ),
    sized AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM canon
    ),
    ordered AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (
               ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM sized
    )
    SELECT doc_id, n_tokens, cum_tokens FROM ordered WHERE cum_tokens <= 20000
    """,
)
def curate_corpus_end_to_end(spark, sf_dir):
    from ..operators.dedup import connected_components, dedup_exact, lsh_candidate_pairs
    from ..operators.packing import global_cumsum

    d = _t(spark, sf_dir, "documents")
    base = d.filter(
        (F.col("lang") == "en") & (token_count_ws(F.col("text")) >= 20)
    ).select("doc_id", "text")
    mirror = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    near = base.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx")).alias("text"),
    )
    corpus = base.unionByName(mirror).unionByName(near)
    survivors = dedup_exact(corpus, "doc_id", "text")
    # feeds LSH AND the canon anti-join
    survivors = materialize(survivors, "curate_corpus_end_to_end.survivors")
    pairs = lsh_candidate_pairs(survivors, "doc_id", "text")
    clusters = connected_components(pairs)
    losers = clusters.filter(F.col("node") != F.col("cluster")).select("node")
    canon = survivors.join(
        F.broadcast(losers), survivors["doc_id"] == F.col("node"), "left_anti"
    )
    sized = canon.select(
        "doc_id", token_count_ws(F.col("text")).cast("bigint").alias("n_tokens")
    )
    spanned = global_cumsum(
        sized, [F.desc("n_tokens"), F.asc("doc_id")], "n_tokens",
        out_col="cum_tokens",
    )
    return spanned.filter(F.col("cum_tokens") <= 20000).select(
        "doc_id", "n_tokens", F.col("cum_tokens").cast("bigint").alias("cum_tokens")
    )


# GDPR / right-to-erasure cascade through the REAL versioned table:
# commit the events fact (v1), anti-join the deletion list, commit the
# erased table (v2, atomic pointer swap — readers never see a partial
# delete), and emit the per-type audit the DPO files: rows
# before/after/erased plus a leak count RECOMPUTED from the committed
# v2 (the oracle pins it to zero, so an incomplete cascade fails the
# differential, not just an assertion).  Erasure is one broadcast
# anti-join + one rewrite; at 100 TB the rewrite bounds to the
# partitions holding the subjects when the table is partitioned or
# z-ordered on the subject key (sources/zorder.py).
@query(
    "gdpr_erasure_cascade",
    """
    WITH before AS (
      SELECT event_type, COUNT(*) AS rows_before FROM events GROUP BY event_type
    ),
    after AS (
      SELECT event_type, COUNT(*) AS rows_after FROM events
      WHERE user_id % 97 <> 0 GROUP BY event_type
    )
    SELECT b.event_type, rows_before,
           COALESCE(rows_after, 0) AS rows_after,
           rows_before - COALESCE(rows_after, 0) AS rows_erased,
           CAST(0 AS BIGINT) AS n_leaked
    FROM before b LEFT JOIN after a ON b.event_type = a.event_type
    """,
)
def gdpr_erasure_cascade(spark, sf_dir):
    from ..sources.table import VersionedParquetTable

    root = _scratch_dir("gdpr", sf_dir)
    t = VersionedParquetTable(spark, root, "events")
    e = _events(spark, sf_dir)
    t.write(e)  # v1: the fact as ingested
    erase = e.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    kept = e.join(F.broadcast(erase), "user_id", "left_anti")
    t.write(kept)  # v2: post-erasure, atomically committed
    v1, v2 = t.read(1), t.read(2)
    before = v1.groupBy("event_type").agg(F.count(F.lit(1)).alias("rows_before"))
    after = v2.groupBy("event_type").agg(F.count(F.lit(1)).alias("rows_after"))
    leaked = (
        v2.join(F.broadcast(erase), "user_id")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    audit = (
        before.join(after, "event_type", "left")
        .join(leaked, "event_type", "left")
        .select(
            "event_type",
            "rows_before",
            F.coalesce("rows_after", F.lit(0)).alias("rows_after"),
            (F.col("rows_before") - F.coalesce("rows_after", F.lit(0))).alias(
                "rows_erased"
            ),
            F.coalesce("n_leaked", F.lit(0)).cast("bigint").alias("n_leaked"),
        )
    )
    return _finish_scratch(audit, root)


# Out-of-orderness diagnostics — the measurement that SIZES a streaming
# watermark: treating event_id as arrival order, lateness = (running
# max event-time at arrival) − event-time.  Per type: max lateness,
# share of late rows, share later than 1h — read these, then set
# ``withWatermark`` to the observed tail instead of guessing.  One
# arrival-ordered window (partitioned by type) + one aggregate;
# lateness in exact integer µs.
@query(
    "out_of_order_stats_events",
    """
    WITH seq AS (
      SELECT event_type,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - epoch_us(ts) AS late_us
      FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           MAX(late_us) AS max_late_us,
           round(CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS late_share,
           round(CAST(SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS very_late_share
    FROM seq GROUP BY event_type
    """,
)
def out_of_order_stats_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.select(
        "event_type",
        (
            F.max(F.unix_micros(F.col("ts"))).over(w) - F.unix_micros(F.col("ts"))
        ).alias("late_us"),
    )
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("late_us").alias("max_late_us"),
        F.round(
            F.sum((F.col("late_us") > 0).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("late_share"),
        F.round(
            F.sum((F.col("late_us") > 3600000000).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("very_late_share"),
    )
