"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import (
    F,
    _dec,
    _events,
    _t,
    arg_max,
    filter_latest,
    filter_top_snapshots,
    global_row_number,
    hash_key,
    insert_only_merge,
    query,
    scd2_apply,
)



# ---------------------------------------------------------------------------
# A1-A4/P1/O1 — TPC-H Q1-shaped pricing summary (the reference's
# "aggregate a fact table by low-cardinality keys" mart shape).
@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))), 2
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# J1/J4/A1/O1 — dimension-chain join + agg (mart/genre_metrics.sql shape).
@query(
    "q5_revenue_per_nation",
    """
    SELECT r_name AS region, n_name AS nation,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q5_revenue_per_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # Pre-aggregate lineitem per order BEFORE joining: shrinks the big
    # side to one row per order, turns COUNT(DISTINCT o_orderkey) into a
    # plain COUNT (no Expand), and the final nation groupBy shuffles only
    # order-grain rows.  Dimension chain (customer⋈nation⋈region) is
    # broadcast — zero shuffle on the probe side beyond the orderkey join.
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias("rev")
    )
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        per_order.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# F1/F2/P2 — md5 hash-key generation with PG-`||` NULL propagation.
@query(
    "hash_key_generation",
    """
    SELECT c_custkey,
           md5(c_name || CAST(c_nationkey AS VARCHAR)) AS cust_hash
    FROM customer
    WHERE md5(c_name || CAST(c_nationkey AS VARCHAR)) IS NOT NULL
    """,
)
def hash_key_generation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    k = hash_key("c_name", "c_nationkey")
    return c.select("c_custkey", k.alias("cust_hash")).filter(k.isNotNull())


# U1 — UNION with dedup (core/movie_hub.sql:6 shape).
@query(
    "union_distinct",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def union_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    return a.unionByName(b).distinct()


# P3/P4 — NOT-IN filter + column-rotation repair (etl_layer_transfer.py:10-20),
# mapped onto lineitem flags: pretend only ('A','N') are canonical, rotate 'R'
# rows (flag↔status), then "delete" still-bad rows.
@query(
    "rotation_repair",
    """
    WITH keep AS (
      SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
      FROM lineitem WHERE l_returnflag IN ('A','N') OR l_returnflag IS NULL
    ),
    rotated AS (
      SELECT l_orderkey, l_linenumber, l_linestatus AS l_returnflag,
             l_returnflag AS l_linestatus
      FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N')
    ),
    rotated_kept AS (
      SELECT * FROM rotated WHERE l_returnflag IN ('A','N') OR l_returnflag IS NULL
    )
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM (SELECT * FROM keep UNION ALL SELECT * FROM rotated_kept)
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rotation_repair(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )
    canonical = ["A", "N"]
    bad = F.col("l_returnflag").isNotNull() & ~F.col("l_returnflag").isin(canonical)
    keep = li.filter(~bad)
    rotated = li.filter(bad).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linestatus").alias("l_returnflag"),
        F.col("l_returnflag").alias("l_linestatus"),
    )
    rotated_kept = rotated.filter(
        F.col("l_returnflag").isNull() | F.col("l_returnflag").isin(canonical)
    )
    return (
        keep.unionByName(rotated_kept)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# P6 — "current records" scalar-subquery filter (mart/movie_data.sql:14).
@query(
    "latest_snapshot_filter",
    """
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM lineitem
    WHERE l_shipdate IN (SELECT MAX(l_shipdate) FROM lineitem)
    """,
)
def latest_snapshot_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return filter_latest(li, "l_shipdate").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )


# P8 — two-latest-snapshots membership (mart/rating_slide.sql:23).
@query(
    "top2_snapshots_filter",
    """
    SELECT o_orderkey, o_orderdate
    FROM orders
    WHERE o_orderdate IN (
      SELECT DISTINCT o_orderdate FROM orders ORDER BY o_orderdate DESC LIMIT 2
    )
    """,
)
def top2_snapshots_filter(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return filter_top_snapshots(o, "o_orderdate", k=2).select(
        "o_orderkey", "o_orderdate"
    )


# P9/J7 — anti-join (insert-only "new keys" detection, ddl.py:552).
@query(
    "anti_join_new_keys",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_new_keys(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


# J5/F7 — FULL OUTER snapshot comparison + coalesced key
# (mart/rating_slide.sql:27-34), halves split by orderkey parity.
@query(
    "full_outer_snapshots",
    """
    WITH cur AS (
      SELECT o_custkey, CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS cur_total
      FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_custkey
    ),
    prev AS (
      SELECT o_custkey, CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS prev_total
      FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_custkey
    )
    SELECT COALESCE(cur.o_custkey, prev.o_custkey) AS o_custkey,
           cur.cur_total, prev.prev_total
    FROM cur FULL JOIN prev ON cur.o_custkey = prev.o_custkey
    """,
)
def full_outer_snapshots(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")

    def half(parity, out):
        return (
            o.filter(F.col("o_orderkey") % 2 == parity)
            .groupBy("o_custkey")
            .agg(F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias(out))
        )

    cur, prev = half(0, "cur_total").alias("cur"), half(1, "prev_total").alias("prev")
    return cur.join(
        prev, F.col("cur.o_custkey") == F.col("prev.o_custkey"), "full_outer"
    ).select(
        F.coalesce(F.col("cur.o_custkey"), F.col("prev.o_custkey")).alias("o_custkey"),
        "cur_total",
        "prev_total",
    )


# J8/A7 — argmax per group via one-pass max_by (genre_metrics rewrite).
@query(
    "argmax_per_group",
    """
    SELECT n_name AS nation,
           (SELECT c.c_name FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c.c_acctbal DESC, c.c_name DESC LIMIT 1) AS richest_customer
    FROM nation n
    WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
    """,
)
def argmax_per_group(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_nation = c.groupBy("c_nationkey").agg(
        arg_max(F.col("c_name"), F.struct(F.col("c_acctbal"), F.col("c_name"))).alias(
            "richest_customer"
        )
    )
    return per_nation.join(F.broadcast(n), per_nation.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"), "richest_customer"
    )


# W1 — global leaderboard rank, two-phase scalable implementation
# (mart/rating_slide.sql:7 rewrite).
@query(
    "global_rank_leaderboard",
    """
    SELECT s_suppkey, s_name,
           ROW_NUMBER() OVER (ORDER BY s_acctbal DESC, s_suppkey ASC) AS place
    FROM supplier
    """,
)
def global_rank_leaderboard(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    ranked = global_row_number(
        s, [F.desc("s_acctbal"), F.asc("s_suppkey")], out_col="place"
    )
    return ranked.select("s_suppkey", "s_name", "place")


# J9 — uncorrelated scalar subquery as a value.
@query(
    "scalar_subquery_filter",
    """
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT AVG(CAST(c_acctbal AS DECIMAL(18,4))) FROM customer)
    """,
)
def scalar_subquery_filter(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg(_dec("c_acctbal")).alias("__avg"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .select("c_custkey", "c_acctbal")
    )


# F4/F5 — stringified-list explode → hub build (core/genre_hub.sql shape):
# p_type words play the genre list role.
@query(
    "explode_tokens_hub",
    """
    SELECT md5(word) AS token_id, word AS token
    FROM (
      SELECT DISTINCT unnest(string_split(p_type, ' ')) AS word FROM part
    ) WHERE word <> ''
    """,
)
def explode_tokens_hub(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    words = (
        p.select(F.explode(F.split(F.col("p_type"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    return words.select(F.md5("word").alias("token_id"), F.col("word").alias("token"))


# §2.9 — the SCD2 merge itself, specified declaratively in the oracle.
# Batch 1 = orders with orderkey%3!=0; batch 2 = all orders with priority
# rewritten for orderkey%5==0 (changed rows). Vanished/new/changed/unchanged
# all occur.
_SCD2_T0, _SCD2_T1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"

@query(
    "scd2_merge_orders",
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
    )
    SELECT pk, prio, status,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(valid_to AS VARCHAR) AS valid_to
    FROM (SELECT * FROM closed UNION ALL SELECT * FROM kept UNION ALL SELECT * FROM inserted)
    """,
)
def scd2_merge_orders(spark, sf_dir):
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
    # stringify validity bounds: the 9999-12-31 open sentinel overflows
    # pandas ns timestamps on the comparison side
    return merged.select(
        "pk",
        "prio",
        "status",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
    )


# Point-in-time lookup against SCD2 history — "state as of T", the
# read every Data Vault consumer runs against the historized sats
# (filter_latest is the T=now special case).  Probes at T0+14d see the
# batch-1 state (keys inserted at T1 absent); probes at T1+14d see the
# merged current state.  Equi-join on the key + interval residual; the
# non-overlap invariant bounds matches at ≤1 per (probe, key).
@query(
    "pit_lookup_orders",
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
    hist AS (
      SELECT * FROM closed UNION ALL SELECT * FROM kept UNION ALL SELECT * FROM inserted
    ),
    probes AS (
      SELECT DISTINCT o_orderkey AS pk, t.ts
      FROM orders CROSS JOIN (
        VALUES (TIMESTAMP '2024-01-15 00:00:00'), (TIMESTAMP '2024-02-15 00:00:00')
      ) t(ts)
    )
    SELECT p.pk, CAST(p.ts AS VARCHAR) AS ts, h.prio, h.status
    FROM probes p JOIN hist h
      ON p.pk = h.pk AND h.valid_from <= p.ts AND p.ts < h.valid_to
    """,
)
def pit_lookup_orders(spark, sf_dir):
    from ..operators.snapshots import pit_join

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
    hist = scd2_apply(state1, b2, "pk", ["prio", "status"], _SCD2_T1)
    probes = (
        o.select(F.col("o_orderkey").alias("pk"))
        .distinct()
        .select(
            "pk",
            F.explode(
                F.array(
                    F.lit("2024-01-15 00:00:00"), F.lit("2024-02-15 00:00:00")
                ).cast("array<timestamp>")
            ).alias("ts"),
        )
    )
    out = pit_join(probes, hist, "pk", "ts")
    return out.select(
        "pk", F.col("ts").cast("string").alias("ts"), "prio", "status"
    )


# ddl.py:551-556 — insert-only merge (hub/mart path).
@query(
    "insert_only_merge_customers",
    """
    WITH b1 AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
    ),
    b2 AS (
      SELECT c_custkey, 'RENAMED-' || c_name AS c_name, c_acctbal + 1 AS c_acctbal
      FROM customer
    )
    SELECT * FROM b1
    UNION ALL
    SELECT b2.* FROM b2 LEFT JOIN b1 ON b2.c_custkey = b1.c_custkey
    WHERE b1.c_custkey IS NULL
    """,
)
def insert_only_merge_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    b1 = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name", "c_acctbal")
    b2 = c.select(
        "c_custkey",
        F.concat(F.lit("RENAMED-"), F.col("c_name")).alias("c_name"),
        (F.col("c_acctbal") + 1).alias("c_acctbal"),
    )
    s1 = insert_only_merge(None, b1, "c_custkey", ["c_custkey", "c_name", "c_acctbal"])
    return insert_only_merge(s1, b2, "c_custkey", ["c_custkey", "c_name", "c_acctbal"])


# ===========================================================================
# LLM-data-pipeline operators (BASELINE.json north star): dedup family,
# similarity search, text analysis, multimodal plumbing, windowed events.
# ===========================================================================

from ..operators.dedup import (  # noqa: E402
    decontaminate,
    dedup_exact,
    lsh_candidate_pairs,
    ngram_jaccard,
    simhash,
)
from ..operators.multimodal import attach_media  # noqa: E402
from ..operators.similarity import cosine_topk, lsh_bucketed_topk  # noqa: E402
from ..operators.text import STOPWORDS, TOKEN_REGEX  # noqa: E402

_NORM_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

from ..operators.dedup import minhash_sig_sql  # noqa: E402

_MINHASH_SIG_SQL = minhash_sig_sql()


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(string_split(lower(text), ' '), "
        f"t -> list_contains([{words}], t)))"
    )


# F13-F16 analog + LLM text ops: language-ID, quality, token counts,
# fingerprint — one scan, no shuffle.
_H = {lang: f"h_{lang}" for lang in sorted(STOPWORDS)}
_GREATEST = "greatest(" + ", ".join(_H.values()) + ")"
_LANG_CASE = (
    f"CASE WHEN {_GREATEST} = 0 THEN 'unknown' "
    + " ".join(
        f"WHEN {_H[lang]} = {_GREATEST} THEN '{lang}'" for lang in sorted(STOPWORDS)[:-1]
    )
    + f" ELSE '{sorted(STOPWORDS)[-1]}' END"
)

@query(
    "text_analysis",
    f"""
    WITH hits AS (
      SELECT doc_id, text,
             {", ".join(f"{_lang_hits_sql(lang)} AS {_H[lang]}" for lang in sorted(STOPWORDS))}
      FROM documents
    )
    SELECT doc_id,
           {_LANG_CASE} AS lang_id,
           len(string_split(lower(text), ' ')) AS n_tokens_ws,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_tokens_bpe,
           round(
             0.4 * least(1.0, len(string_split(lower(text), ' ')) / 100.0)
             + 0.3 * (1.0 - CASE WHEN strlen(text) > 0
                 THEN (strlen(text) - strlen(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) / CAST(strlen(text) AS DOUBLE)
                 ELSE 0.0 END)
             + 0.3 * least(1.0, 5.0 * CASE WHEN len(string_split(lower(text), ' ')) > 0
                 THEN CAST({_lang_hits_sql("en")} AS DOUBLE) / len(string_split(lower(text), ' '))
                 ELSE 0.0 END),
             6) AS quality,
           {_NORM_SQL} AS fp
    FROM hits
    """,
)
def text_analysis(spark, sf_dir):
    from ..operators.text import text_analysis_frame

    return text_analysis_frame(_t(spark, sf_dir, "documents"))


# Exact dedup: corpus + case-mutated copies; normalization collapses them.
@query(
    "dedup_exact_docs",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY {_NORM_SQL} ORDER BY doc_id) AS rn
      FROM all_docs
    ) WHERE rn = 1
    """,
)
def dedup_exact_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), F.upper("text").alias("text"))
    )
    return dedup_exact(d.unionByName(copies), "doc_id", "text").select("doc_id")


_MINHASH_CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz yy xx' FROM documents WHERE doc_id % 25 = 0
    ),
    tok AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM corpus),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
        END AS shingles
      FROM tok
    )
"""


def _minhash_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = (
        d.filter(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz yy xx")).alias("text"),
        )
    )
    return d.unionByName(near)


# MinHash + LSH banding: near-dup candidate pairs via band-bucket join.
@query(
    "minhash_lsh_pairs",
    f"""
    WITH {_MINHASH_CORPUS_SQL},
    sig AS (
      SELECT doc_id,
        {_MINHASH_SIG_SQL} AS sig
      FROM sh
    ),
    banded AS (
      SELECT doc_id, b.range AS band,
             md5(array_to_string(sig[b.range*3+1 : b.range*3+3], '|')) AS band_sig
      FROM sig, range(0, 4) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs(spark, sf_dir):
    # threshold-driven banding is the front door: lsh_params(0.63, 12)
    # fits the S-curve midpoint (1/b)^(1/r) to the target similarity
    # and resolves to the same (12 hashes, 4 bands) the oracle SQL
    # replays (pinned by tests/test_llm_ops.py::test_lsh_params_s_curve)
    return lsh_candidate_pairs(
        _minhash_corpus(spark, sf_dir), "doc_id", "text", threshold=0.63, max_hashes=12
    )


# Exact n-gram Jaccard verification on deterministic candidate pairs.
@query(
    "ngram_jaccard_pairs",
    f"""
    WITH {_MINHASH_CORPUS_SQL},
    dsh AS (
      SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
    pairs AS (
      SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
      FROM documents WHERE doc_id % 25 = 0
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN dsh a ON a.doc_id = p.doc_a
      JOIN dsh b ON b.doc_id = p.doc_b AND b.s = a.s
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           round(COALESCE(n_inter, 0) / CAST(sa.n_sh + sb.n_sh - COALESCE(n_inter, 0) AS DOUBLE), 6) AS jaccard
    FROM pairs p
    LEFT JOIN inter USING (doc_a, doc_b)
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    corpus = _minhash_corpus(spark, sf_dir)
    pairs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 1000000).alias("doc_b"),
        )
    )
    return ngram_jaccard(corpus, pairs, "doc_id", "text")


# MinHash estimator-quality audit: per candidate pair, the sketch's
# Jaccard ESTIMATE (matching signature positions / 12) against the
# exact 3-gram Jaccard, plus a tolerance verdict — the in-engine check
# that banding parameters actually deliver their promised accuracy
# before a dedup run trusts them at 100 TB.  est = k/12 never ties at
# 6 dp (k·10⁶ ≢ 6 mod 12 has no solution — NOTES float-rule #4);
# exact reuses ngram_jaccard's proven rounding; the verdict compares
# the two ROUNDED values against 0.35 (estimator σ = √(J(1−J)/12) ≤
# 0.145, so 0.35 ≈ 2.4σ at the worst point — far from any boundary).
@query(
    "minhash_estimate_audit",
    f"""
    WITH {_MINHASH_CORPUS_SQL},
    sig AS (
      SELECT doc_id, {_MINHASH_SIG_SQL} AS sig FROM sh
    ),
    pairs AS (
      SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
      FROM documents WHERE doc_id % 25 = 0
    ),
    est AS (
      SELECT p.doc_a, p.doc_b,
             round(CAST(len(list_filter(range(1, 13), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 12, 6) AS est_jaccard
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
    ),
    dsh AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN dsh a ON a.doc_id = p.doc_a
      JOIN dsh b ON b.doc_id = p.doc_b AND b.s = a.s
      GROUP BY p.doc_a, p.doc_b
    ),
    ex AS (
      SELECT p.doc_a, p.doc_b,
             round(COALESCE(n_inter, 0) / CAST(sa.n_sh + sb.n_sh - COALESCE(n_inter, 0) AS DOUBLE), 6) AS exact_jaccard
      FROM pairs p
      LEFT JOIN inter USING (doc_a, doc_b)
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard, x.exact_jaccard,
           abs(e.est_jaccard - x.exact_jaccard) <= 0.35 AS within_tolerance
    FROM est e JOIN ex x USING (doc_a, doc_b)
    """,
)
def minhash_estimate_audit(spark, sf_dir):
    from ..operators.dedup import minhash_signatures, ngram_jaccard

    corpus = _minhash_corpus(spark, sf_dir)
    sigs = minhash_signatures(corpus, "doc_id", "text")
    pairs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 1000000).alias("doc_b"),
        )
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda b: b
        )
    )
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches.cast("double") / 12, 6).alias("est_jaccard"),
        )
    )
    exact = ngram_jaccard(corpus, pairs, "doc_id", "text").withColumnRenamed(
        "jaccard", "exact_jaccard"
    )
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "exact_jaccard",
        (
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")) <= F.lit(0.35)
        ).alias("within_tolerance"),
    )


# SimHash 16-bit signatures (md5-derived token hashes, bit-vote aggregate).
@query(
    "simhash_signatures",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
    ),
    h AS (
      SELECT doc_id, CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT) AS th FROM tok
    ),
    votes AS (
      SELECT doc_id, b.range AS bit,
             SUM(CASE WHEN (th >> CAST(b.range AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, range(0, 16) b
      GROUP BY doc_id, b.range
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def simhash_signatures(spark, sf_dir):
    return simhash(_t(spark, sf_dir, "documents"), "doc_id", "text", bits=16)


# Brute-force exact cosine top-k (ANN baseline).
@query(
    "embedding_cosine_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6) AS score
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def embedding_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(e, [0, 1, 2, 3, 4], k=10, dims=64)
    return out.select("query_id", "vec_id", "score", F.col("rank").cast("int").alias("rank"))


# LSH-bucketed approximate ANN — the scale path.  The md5-parity
# hyperplane weights are deterministic plan literals, so the ENTIRE
# index is SQL-expressible: the oracle inlines the same 32 weight
# vectors and reproduces bucket assignment, candidate join, and
# scoring value-for-value.
def _ann_lsh_oracle(n_planes: int = 4, n_tables: int = 8, dims: int = 64) -> str:
    from ..operators.similarity import _plane_weights

    def sig(t: int) -> str:
        cases = []
        for p in range(n_planes):
            w = "[" + ", ".join(str(x) for x in _plane_weights(t * 1000 + p, dims)) + "]"
            cases.append(
                f"CASE WHEN list_dot_product(v, {w}) >= 0 THEN '1' ELSE '0' END"
            )
        return "concat(" + ", ".join(cases) + ")"

    buckets = "\n      UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {sig(t)} AS bucket FROM vecs"
        for t in range(n_tables)
    )
    return f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      {buckets}
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv, tbl, bucket FROM b
      WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    scored AS (
      SELECT DISTINCT q.query_id, b.vec_id,
             round(list_dot_product(q.qv, b.v), 6) AS score
      FROM q JOIN b ON q.tbl = b.tbl AND q.bucket = b.bucket
                    AND b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@query("ann_lsh_bucketed", _ann_lsh_oracle())
def ann_lsh_bucketed(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = lsh_bucketed_topk(e, [0, 1, 2, 3, 4], k=10, dims=64)
    return out.select("query_id", "vec_id", "score", F.col("rank").cast("int").alias("rank"))


# Multimodal: binary content column + typed metadata, hashed JVM-side.
@query(
    "multimodal_metadata",
    """
    SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS checksum,
           'image/fake' AS media_type
    FROM documents
    """,
)
def multimodal_metadata(spark, sf_dir):
    media = attach_media(_t(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("content").alias("checksum"),
        "media_type",
    )


# F5 analog on the events stream: JSON field extraction + aggregation.
@query(
    "events_json_stats",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def events_json_stats(spark, sf_dir):
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
    )


# Salted JOIN on a pathologically skewed key: event_type has 5 values,
# so a shuffle join funnels each type through one task.  salted_join
# appends pmod(hash(event_id), S) to the fact's key and replicates the
# dim S×, splitting every hot key S ways — AQE's skew splitting
# post-hoc fixes what it detects; salting is the layout guarantee when
# the skew is known (SCALE.md).  Result must be bit-identical to the
# unsalted join — which is exactly what the oracle (a plain join)
# checks.
@query(
    "salted_join_events",
    """
    WITH dim AS (
      SELECT DISTINCT event_type, md5(event_type) AS type_code FROM events
    )
    SELECT type_code,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events JOIN dim USING (event_type)
    GROUP BY type_code
    ORDER BY type_code
    """,
)
def salted_join_events(spark, sf_dir):
    from ..operators.skew import salted_join

    e = _events(spark, sf_dir)
    dim = (
        _events(spark, sf_dir)
        .select("event_type")
        .distinct()
        .withColumn("type_code", F.md5("event_type"))
    )
    joined = salted_join(e, dim, ["event_type"], salt_col="event_id", salt_buckets=16)
    return (
        joined.groupBy("type_code")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        )
        .orderBy("type_code")
    )


# Spark 4 VARIANT path for the same extraction: props parses ONCE into
# the binary-encoded VARIANT type, fields project via variant_get — at
# scale this beats re-tokenizing the JSON string per field access
# (get_json_object above), and it is the idiomatic Spark-4 answer for
# semi-structured columns.  Same aggregate contract as
# events_json_stats, so the oracle doubles as an equivalence check
# between the two extraction paths.
@query(
    "events_variant_stats",
    """
    SELECT event_type,
           CAST(MIN(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS min_k,
           CAST(MAX(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS max_k,
           CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def events_variant_stats(spark, sf_dir):
    e = _events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    staged = e.select("event_type", k.alias("__k"))
    return staged.groupBy("event_type").agg(
        F.min("__k").alias("min_k"),
        F.max("__k").alias("max_k"),
        F.sum("__k").alias("sum_k"),
    )


# Streaming-shaped windows (tumbling, sliding, session), computed in
# batch over the events table.
@query(
    "tumbling_window_events",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@query(
    "sliding_window_events",
    """
    WITH expanded AS (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
             value
      FROM events
    )
    SELECT window_start, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM expanded GROUP BY window_start
    """,
)
def sliding_window_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )


@query(
    "session_window_events",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id,
           CAST(MIN(ts) AS VARCHAR) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("string").alias("session_start"),
            F.col("session_window.end").cast("string").alias("session_end"),
            "n_events",
        )
    )


# ===========================================================================
# Remaining SURVEY §2 families + the flagship "real builders on synthetic
# raw tables" pipeline parity query.
# ===========================================================================

from ..plans import core as _core  # noqa: E402
from ..plans import marts as _marts  # noqa: E402


# J2 — composite natural-key join (core/movie_genre_link.sql:18 shape).
@query(
    "composite_key_join",
    """
    SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey AND a.o_orderdate = b.o_orderdate
         AND a.o_orderkey < b.o_orderkey
    """,
)
def composite_key_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a, b = o.alias("a"), o.alias("b")
    return a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderdate") == F.col("b.o_orderdate"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
    ).select(
        F.col("a.o_orderkey").alias("order_a"), F.col("b.o_orderkey").alias("order_b")
    )


# J3 — join on a computed expression (core/movie_info_sat.sql:36-39:
# md5(name||duration) = hub key).
@query(
    "expression_join",
    """
    WITH hub AS (
      SELECT DISTINCT md5(c_name || CAST(c_nationkey AS VARCHAR)) AS cust_id
      FROM customer
    )
    SELECT c.c_custkey, h.cust_id
    FROM customer c
    JOIN hub h ON md5(c.c_name || CAST(c.c_nationkey AS VARCHAR)) = h.cust_id
    """,
)
def expression_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    hub = c.select(hash_key("c_name", "c_nationkey").alias("cust_id")).distinct()
    return c.join(
        hub, hash_key(c.c_name, c.c_nationkey) == hub.cust_id, "inner"
    ).select("c_custkey", "cust_id")


# J6 — LEFT-join SCD2 change detection (the close-out predicate alone,
# ddl.py:537-542), null-safe variant.
@query(
    "left_join_change_detect",
    """
    WITH b1 AS (
      SELECT o_orderkey AS pk, o_orderpriority AS prio FROM orders WHERE o_orderkey % 3 <> 0
    ),
    b2 AS (
      SELECT o_orderkey AS pk,
             CASE WHEN o_orderkey % 5 = 0 THEN 'X-CHANGED' ELSE o_orderpriority END AS prio
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT b1.pk,
           CASE WHEN b2.pk IS NULL THEN 'vanished' ELSE 'changed' END AS reason
    FROM b1 LEFT JOIN b2 ON b1.pk = b2.pk
    WHERE b2.pk IS NULL OR b1.prio IS DISTINCT FROM b2.prio
    """,
)
def left_join_change_detect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    b1 = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("pk"), F.col("o_orderpriority").alias("prio")
    )
    b2 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("pk"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X-CHANGED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
    )
    j = b1.alias("l").join(b2.alias("r"), F.col("l.pk") == F.col("r.pk"), "left")
    return j.filter(
        F.col("r.pk").isNull() | ~F.col("l.prio").eqNullSafe(F.col("r.prio"))
    ).select(
        F.col("l.pk").alias("pk"),
        F.when(F.col("r.pk").isNull(), F.lit("vanished"))
        .otherwise(F.lit("changed"))
        .alias("reason"),
    )


# U2 — UNION ALL (core/genre_hub.sql:13).
@query(
    "union_all_counts",
    """
    SELECT p_brand, COUNT(*) AS n FROM (
      SELECT p_brand FROM part WHERE p_size > 25
      UNION ALL
      SELECT p_brand FROM part WHERE p_retailprice > 1500
    ) GROUP BY p_brand
    """,
)
def union_all_counts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    u = p.filter(F.col("p_size") > 25).select("p_brand").unionByName(
        p.filter(F.col("p_retailprice") > 1500).select("p_brand")
    )
    return u.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))


# A6 — string_agg (ddl.py:454) with deterministic ordering.
@query(
    "string_agg_sorted",
    """
    SELECT n_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS customers
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def string_agg_sorted(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        F.broadcast(n)
        .join(c, c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("customers"))
    )


# F6 — cast semantics incl. NULL-on-bad-cast (the documented divergence:
# Spark non-ANSI == DuckDB TRY_CAST; the reference would crash).
@query(
    "typed_casts",
    """
    SELECT o_orderkey,
           TRY_CAST(o_orderpriority AS INTEGER) AS bad_int,
           CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS roundtrip_price,
           CAST(o_orderdate AS VARCHAR) AS date_str
    FROM orders
    """,
)
def typed_casts(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").cast("int").alias("bad_int"),
        F.col("o_totalprice").cast("string").cast("double").alias("roundtrip_price"),
        F.col("o_orderdate").cast("string").alias("date_str"),
    )


# F3/F7/F8 — replace / coalesce / CASE WHEN cleanup (mart/employee_data.sql:5-7).
@query(
    "case_when_cleanup",
    """
    SELECT p_partkey,
           CASE WHEN p_brand = 'Brand#33' THEN ''
                ELSE replace(replace(p_type, ' ', '_'), 'PLATED', 'P')
           END AS brand_note,
           COALESCE(NULLIF(p_type, ''), 'unknown') AS type_or_default
    FROM part
    """,
)
def case_when_cleanup(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.when(F.col("p_brand") == "Brand#33", F.lit(""))
        .otherwise(
            F.replace(
                F.replace(F.col("p_type"), F.lit(" "), F.lit("_")),
                F.lit("PLATED"),
                F.lit("P"),
            )
        )
        .alias("brand_note"),
        F.coalesce(F.nullif(F.col("p_type"), F.lit("")), F.lit("unknown")).alias(
            "type_or_default"
        ),
    )
