"""Round-8 wave 30 — training-data curation primitives: greedy
k-center coreset selection over embeddings, a DoReMi-style
exponentiated-gradient domain-reweighting step, and retraction-aware
incremental view maintenance (deletes + updates, not just inserts)."""

from __future__ import annotations

from ._registry import F, _t, materialize, query

_DIMS = 64
_K_CENTERS = 6


def _sqdist_sql(a: str, b: str, dims: int = _DIMS) -> str:
    """Squared L2 as an explicit left-associative Add chain — the
    dot_codegen discipline (operators/similarity.py): identical fold
    order on both engines, so every last-ulp double matches."""
    terms = " + ".join(
        f"(CAST({a}[{i + 1}] AS DOUBLE) - CAST({b}[{i + 1}] AS DOUBLE))"
        f" * (CAST({a}[{i + 1}] AS DOUBLE) - CAST({b}[{i + 1}] AS DOUBLE))"
        for i in range(dims)
    )
    return f"(0.0 + {terms})"


def _kcenter_rounds_sql(k: int = _K_CENTERS) -> str:
    """Unrolled greedy k-center CTE chain: c1 = min vec_id seed; round
    r picks the point with the LARGEST min-distance to the chosen
    centers (ties to the smaller vec_id) and folds its distance into
    the running min."""
    parts = [
        "c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1)",
        f"""m1 AS (
          SELECT e.vec_id, {_sqdist_sql("e.embedding", "c.embedding")} AS mind
          FROM e, c1 c
        )""",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"""c{r} AS (
          SELECT e.vec_id, e.embedding, m.mind
          FROM e JOIN m{r - 1} m USING (vec_id)
          ORDER BY m.mind DESC, e.vec_id LIMIT 1
        )"""
        )
        if r < k:
            parts.append(
                f"""m{r} AS (
          SELECT m.vec_id,
                 LEAST(m.mind, {_sqdist_sql("e.embedding", "c.embedding")}) AS mind
          FROM m{r - 1} m JOIN e USING (vec_id), c{r} c
        )"""
            )
    selects = ["SELECT 1 AS round, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1"]
    for r in range(2, k + 1):
        selects.append(
            f"SELECT {r} AS round, vec_id, round(mind, 6) AS radius FROM c{r}"
        )
    return ",\n    ".join(parts) + "\n    " + "\nUNION ALL\n".join(selects)


# Greedy k-center coreset (Gonzalez 1985, the 2-approximation) — the
# geometry-coverage complement of the DSIR/token-budget SELECTION ops:
# pick the k points that minimize the max distance from any point to
# its nearest pick, i.e. the most diverse representatives.  Each round
# is ONE distributed pass (fold the newly chosen center into a running
# min-distance column; argmax via a 1-row orderBy-limit — the accepted
# per-round scalar-collect pattern of connected_components/pagerank),
# so cost is O(k·n) with per-round eager checkpoints bounding lineage.
# The new center's 64 coordinates travel to the next round as LITERALS
# (exact float32→double values; repr round-trips bit-exactly), keeping
# the distance math codegen with NO crossJoin.  Radii are the chosen
# point's min-distance at selection time — a non-increasing sequence
# (pinned by test), the classic k-center coverage curve.  Distances
# fold in index order via an explicit Add chain on BOTH engines
# (dot_codegen discipline), so every double is bit-identical.
@query(
    "kcenter_coreset_embeddings",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    {_kcenter_rounds_sql()}
    ORDER BY round
    """,
)
def kcenter_coreset_embeddings(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def dist_to(center_vals):
        # CAST('<repr>' AS DOUBLE): repr round-trips float64 bit-exactly
        # and the string cast sidesteps literal-suffix parsing edge
        # cases (scientific notation + D).
        terms = " + ".join(
            f"(CAST(embedding[{i}] AS DOUBLE) - CAST('{v!r}' AS DOUBLE))"
            f" * (CAST(embedding[{i}] AS DOUBLE) - CAST('{v!r}' AS DOUBLE))"
            for i, v in enumerate(center_vals)
        )
        return F.expr(f"0.0D + {terms}")

    seed = e.orderBy("vec_id").limit(1).collect()[0]
    centers = [(1, int(seed.vec_id), None)]
    m = materialize(e.select(
        "vec_id", "embedding", dist_to(list(seed.embedding)).alias("mind")
    ), "kcenter_coreset_embeddings.m")
    for r in range(2, _K_CENTERS + 1):
        top = m.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1).collect()[0]
        centers.append((r, int(top.vec_id), round(float(top.mind), 6)))
        if r < _K_CENTERS:
            m = materialize(m.select(
                "vec_id",
                "embedding",
                F.least(
                    F.col("mind"), dist_to(list(top.embedding))
                ).alias("mind"),
            ), "kcenter_coreset_embeddings.m")
    return spark.createDataFrame(
        centers, "round int, vec_id bigint, radius double"
    ).orderBy("round")


# DoReMi-style domain reweighting — ONE exponentiated-gradient step of
# the Domain Reweighting with Minimax Optimization recipe (Xie et al.
# 2023), with per-domain tokenizer fertility as the deterministic
# excess-"loss" proxy (a domain whose text tokenizes worse than the
# corpus average gets upweighted): w'_d ∝ share_d · exp(max(0,
# fert_d − fert_global)), renormalized.  Parity: every input to exp is
# ONE correctly-rounded division of exact int64 token/word counts
# (identical cross-engine); exp is not correctly rounded, so its
# output is rounded to 6 BEFORE normalization on both engines (the
# negative_sampling pow discipline), making the normalizing sum a sum
# of identical 1e-6 rationals — folded in source order inside one
# domain-bounded array on both engines.  One corpus pass + a
# domain-sized fold: nothing data-sized shuffles twice.
@query(
    "domain_reweight_step_docs",
    r"""
    WITH d AS (
      SELECT source,
             CAST(SUM(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS toks,
             CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS words
      FROM documents GROUP BY source
    ),
    g AS (
      SELECT CAST(SUM(toks) AS BIGINT) AS gt, CAST(SUM(words) AS BIGINT) AS gw
      FROM d
    ),
    raw AS (
      SELECT source, toks, words,
             round(CAST(toks AS DOUBLE) / words, 6) AS fertility,
             round(
               (CAST(toks AS DOUBLE) / gt)
               * exp(GREATEST(0.0,
                     CAST(toks AS DOUBLE) / words
                     - CAST(gt AS DOUBLE) / gw)), 6) AS w_raw
      FROM d, g
    ),
    tot AS (
      SELECT list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(w_raw ORDER BY source)),
               (p, q) -> p + q) AS t
      FROM raw
    )
    SELECT source, toks AS n_tokens, fertility,
           round(w_raw / t, 6) AS weight
    FROM raw, tot ORDER BY source
    """,
)
def domain_reweight_step_docs(spark, sf_dir):
    from ..operators.text import token_count_bpe, token_count_ws

    docs = _t(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        F.sum(token_count_bpe(F.col("text"))).cast("long").alias("toks"),
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("words"),
    )
    g = d.agg(
        F.sum("toks").cast("long").alias("gt"),
        F.sum("words").cast("long").alias("gw"),
    )
    raw = d.crossJoin(F.broadcast(g)).select(
        "source",
        "toks",
        F.round(F.col("toks").cast("double") / F.col("words"), 6).alias(
            "fertility"
        ),
        F.round(
            (F.col("toks").cast("double") / F.col("gt"))
            * F.exp(
                F.greatest(
                    F.lit(0.0),
                    F.col("toks").cast("double") / F.col("words")
                    - F.col("gt").cast("double") / F.col("gw"),
                )
            ),
            6,
        ).alias("w_raw"),
    )
    tot = raw.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(source, w_raw))),"
            " s -> s.w_raw), CAST(0.0 AS DOUBLE), (p, q) -> p + q)"
        ).alias("t")
    )
    return (
        raw.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("toks").alias("n_tokens"),
            "fertility",
            F.round(F.col("w_raw") / F.col("t"), 6).alias("weight"),
        )
        .orderBy("source")
    )


# Retraction-aware incremental view maintenance — the delete/update
# half that incremental_join_view_orders (insert-only deltas) leaves
# open: maintain a materialized per-customer (order count, revenue)
# aggregate under a mixed CDC batch of DELETEs (multiplicity −1),
# UPDATEs (−1 old row, +1 corrected row) and INSERTs (+1), as signed
# multiplicities: ΔV = one groupBy over the delta, new V = full outer
# merge of V and ΔV with zero-count groups DROPPED (the retraction
# subtlety — a customer whose every order was deleted must leave the
# view, not linger as a zero row).  Refresh cost is |Δ| + touched
# groups, never a rescan of the base — the IVM statement itself is the
# oracle, which recomputes the post-batch state naively from scratch.
# Money stays in exact 1e-4 int64 units until one final division.
@query(
    "retraction_ivm_orders",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS u
      FROM orders
    ),
    after AS (
      -- the post-batch ground truth: deletes removed, updates
      -- corrected (+10.0000), inserts added (one synthetic order per
      -- %19==3 survivor, +5.0000 at a shifted key)
      SELECT o_custkey, u FROM base
      WHERE o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 0
      UNION ALL
      SELECT o_custkey, u + 100000 FROM base
      WHERE o_orderkey % 13 <> 0 AND o_orderkey % 17 = 0
      UNION ALL
      SELECT o_custkey, u + 50000 FROM base
      WHERE o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 0
        AND o_orderkey % 19 = 3
    )
    SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(SUM(u) AS DOUBLE) / 10000.0, 4) AS revenue
    FROM after GROUP BY o_custkey ORDER BY custkey
    """,
)
def retraction_ivm_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,4)") * F.lit(10000))
        .cast("long")
        .alias("u"),
    )
    # materialized view BEFORE the batch
    v = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("u").cast("long").alias("su"),
    )
    k = F.col("o_orderkey")
    deletes = o.filter(k % 13 == 0).select(
        "o_custkey", F.lit(-1).alias("m"), F.col("u")
    )
    upd_out = o.filter((k % 13 != 0) & (k % 17 == 0)).select(
        "o_custkey", F.lit(-1).alias("m"), F.col("u")
    )
    upd_in = o.filter((k % 13 != 0) & (k % 17 == 0)).select(
        "o_custkey", F.lit(1).alias("m"), (F.col("u") + 100000).alias("u")
    )
    ins = o.filter((k % 13 != 0) & (k % 17 != 0) & (k % 19 == 3)).select(
        "o_custkey", F.lit(1).alias("m"), (F.col("u") + 50000).alias("u")
    )
    delta = deletes.unionByName(upd_out).unionByName(upd_in).unionByName(ins)
    dv = delta.groupBy("o_custkey").agg(
        F.sum("m").cast("long").alias("dcnt"),
        F.sum(F.col("m") * F.col("u")).cast("long").alias("dsu"),
    )
    merged = (
        v.join(dv, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (F.coalesce("cnt", F.lit(0)) + F.coalesce("dcnt", F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (F.coalesce("su", F.lit(0)) + F.coalesce("dsu", F.lit(0)))
            .cast("long")
            .alias("su"),
        )
        .filter(F.col("n_orders") > 0)  # retraction: zero groups leave
    )
    return merged.select(
        F.col("o_custkey").alias("custkey"),
        "n_orders",
        F.round(F.col("su").cast("double") / F.lit(10000.0), 4).alias("revenue"),
    ).orderBy("custkey")
