"""Auto-split from the flat entry_queries module (round 8) —
registration order and query source preserved verbatim; see
entry_queries/__init__.py for the aggregation contract."""

from __future__ import annotations

from ._registry import DataFrame, F, _dec, _events, _t, _units4, materialize, os, query, scd2_apply
from .q01_warehouse import (
    _MINHASH_CORPUS_SQL,
    _NORM_SQL,
    _SCD2_T0,
    _SCD2_T1,
    _core,
    _marts,
    _minhash_corpus,
    attach_media,
    cosine_topk,
    decontaminate,
)
from ..operators.dedup import connected_components



# ---------------------------------------------------------------------------
# Flagship pipeline-parity query: the REAL core/mart builders (plans/core.py,
# plans/marts.py) running on movie-raw-shaped tables synthesized from part/
# supplier/lineitem, checked against a full SQL transcription of the
# reference's script chain (core/*.sql → mart/genre_metrics.sql shape).
# ---------------------------------------------------------------------------
class _ShimWarehouse:
    """Duck-typed Warehouse over in-memory DataFrames: .bronze() serves
    synthesized raw tables; .read('stg', t) computes upstream builders
    on demand (single batch, no historization).

    Bronze entries are FACTORIES (nullary callables), not DataFrames,
    and built stg tables are not cached: every call produces a fresh
    logical plan, mirroring the real warehouse where each table read is
    its own parquet scan.  Serving shared in-memory plans instead makes
    every hub⋈sat join a self-join of common lineage, which breaks the
    builders' df.attr column references (dangling attribute ids after
    Spark's self-join dedup).  ``_stg`` holds explicit overrides only
    (e.g. an SCD2-historized sat injected by a mart query).
    """

    def __init__(
        self,
        spark,
        bronze: dict,
        materialize_stg: bool | set[str] = False,
    ):
        self.spark = spark
        self._bronze = bronze
        self._stg: dict[str, DataFrame] = {}
        # materialize_stg materializes built stg tables and reuses them
        # (True = all, or a set of table names): a shared LOGICAL plan
        # still re-executes once per consuming branch (no cross-branch
        # CSE in Catalyst — round 2's genre_metrics rebuilt the hub
        # chain ×3, 25.9s driver-bench); a materialized table executes
        # once.  Single-consumer tables should NOT be in the set —
        # materialization is a full extra write pass that only pays
        # for itself from the second read.
        self._materialize_stg = materialize_stg

    def bronze(self, table):
        return self._bronze[table]()

    def _should_materialize(self, name) -> bool:
        if isinstance(self._materialize_stg, bool):
            return self._materialize_stg
        return name in self._materialize_stg

    def read(self, schema, name):
        assert schema == "stg"
        if name in self._stg:
            return self._stg[name]
        built = getattr(_core, f"build_{name}")(self)
        if self._should_materialize(name):
            built = materialize(built, f"stg.{name}")
        if self._materialize_stg:
            self._stg[name] = built
        return built


def _synth_movie_raw(spark, sf_dir):
    """part → movie_raw rows: p_name plays movie_name, p_size the
    duration, p_type words the stringified genre list, retailprice the
    rating source; suppliers play the cast via lineitem links."""
    p = _t(spark, sf_dir, "part")
    genres = F.concat(
        F.lit("['"),
        F.regexp_replace(F.col("p_type"), " ", "', '"),
        F.lit("']"),
    )
    base = p.select(
        F.concat(F.lit("http://parts/"), F.col("p_partkey").cast("string")).alias("url"),
        F.col("p_name").alias("movie_name"),
        F.lit(None).cast("string").alias("original_name"),
        F.lit("1999").alias("year"),
        F.col("p_brand").alias("certificate"),
        F.round(F.col("p_retailprice") / 200.0, 1).cast("string").alias("rating"),
        genres.alias("genres"),
        (F.col("p_retailprice") * 1000).cast("long").cast("string").alias("budget"),
        (F.col("p_retailprice") * 2000).cast("long").cast("string").alias("gross_worldwide"),
        F.col("p_size").cast("string").alias("min_duration"),
    )
    imdb = base.filter(F.col("movie_name").isNotNull())
    meta = base.filter((_mod_col := F.abs(F.hash("url")) % 2) == 0)
    return imdb, meta


def _synth_actor_raw(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    j = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(p.select("p_partkey", "p_name", "p_size"), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s.select("s_suppkey", "s_name")), li.l_suppkey == s.s_suppkey)
    )
    role = F.element_at(
        F.array(F.lit("director"), F.lit("producer"), F.lit("writer"), F.lit("actor")),
        (F.col("s_suppkey") % 4 + 1).cast("int"),
    )
    rows = j.select(
        F.col("p_name").alias("movie_name"),
        F.col("p_size").cast("int").alias("movie_duration"),
        F.col("s_name").alias("name"),
        F.concat(F.lit("(as "), F.col("s_name"), F.lit(")")).alias("raw_role"),
        role.alias("role"),
    )
    return rows, rows.filter(F.col("movie_duration") % 2 == 0)


_PIPELINE_SQL_PRELUDE = """
    WITH movie_raw AS (
      SELECT 'http://parts/' || CAST(p_partkey AS VARCHAR) AS url,
             p_name AS movie_name,
             CAST(NULL AS VARCHAR) AS original_name,
             '1999' AS year,
             p_brand AS certificate,
             CAST(ROUND(p_retailprice / 200.0, 1) AS VARCHAR) AS rating,
             '[''' || replace(p_type, ' ', ''', ''') || ''']' AS genres,
             CAST(CAST(p_retailprice * 1000 AS BIGINT) AS VARCHAR) AS budget,
             CAST(CAST(p_retailprice * 2000 AS BIGINT) AS VARCHAR) AS gross_worldwide,
             CAST(p_size AS VARCHAR) AS min_duration
      FROM part WHERE p_name IS NOT NULL
    ),
    movie_hub AS (
      SELECT DISTINCT md5(movie_name || CAST(CAST(min_duration AS INTEGER) AS VARCHAR)) AS movie_id,
             movie_name AS movie_nm, CAST(min_duration AS INTEGER) AS movie_duration
      FROM movie_raw
      WHERE md5(movie_name || CAST(CAST(min_duration AS INTEGER) AS VARCHAR)) IS NOT NULL
    ),
    genre_hub AS (
      SELECT md5(genre) AS genre_id, genre AS genre_nm FROM (
        SELECT DISTINCT replace(unnest(string_split(replace(replace(genres,'[',''),']',''), ', ')), '''', '') AS genre
        FROM movie_raw
      ) WHERE genre <> ''
    )
"""


# The genre-hub build (explode variant 1) through the REAL builder.
@query(
    "pipeline_genre_hub",
    _PIPELINE_SQL_PRELUDE + "SELECT genre_id, genre_nm FROM genre_hub",
)
def pipeline_genre_hub(spark, sf_dir):
    # the real builder unions imdb+metacritic; feed imdb twice-distinct
    # equivalent: metacritic side = imdb subset, union-all then distinct
    wh = _ShimWarehouse(
        spark,
        {
            "movie_raw_data_imdb": lambda: _synth_movie_raw(spark, sf_dir)[0],
            "movie_raw_data_metacritic": lambda: _synth_movie_raw(spark, sf_dir)[1],
        },
    )
    return _core.build_genre_hub(wh)


# The movie-hub build (union-dedup + hash key + null filter) for real.
@query(
    "pipeline_movie_hub",
    _PIPELINE_SQL_PRELUDE + "SELECT movie_id, movie_nm, movie_duration FROM movie_hub",
)
def pipeline_movie_hub(spark, sf_dir):
    wh = _ShimWarehouse(
        spark,
        {
            "movie_raw_data_imdb": lambda: _synth_movie_raw(spark, sf_dir)[0],
            "movie_raw_data_metacritic": lambda: _synth_movie_raw(spark, sf_dir)[1],
        },
    )
    return _core.build_movie_hub(wh)


# Full chain: hubs → movie_genre_link (JSON explode variant + composite
# natural-key join) → genre aggregation with the max_by argmax rewrite —
# mart/genre_metrics.sql end-to-end through the real builders.
@query(
    "pipeline_genre_metrics",
    _PIPELINE_SQL_PRELUDE
    + """,
    exploded AS (
      SELECT DISTINCT movie_name AS movie_nm, CAST(min_duration AS INTEGER) AS duration,
             unnest(from_json(replace(genres, '''', '"'), '["VARCHAR"]')) AS genre
      FROM movie_raw
    ),
    movie_genre_link AS (
      SELECT DISTINCT md5(j.movie_id || g.genre_id) AS mv_gen_link_id,
             j.movie_id, g.genre_id
      FROM exploded i
      JOIN movie_hub j ON i.movie_nm = j.movie_nm AND i.duration = j.movie_duration
      JOIN genre_hub g ON g.genre_nm = i.genre
    ),
    movie_info_sat AS (
      SELECT DISTINCT md5(t2.movie_id || t1.url) AS title_item_id, t2.movie_id,
             t1.rating, t1.budget, t1.gross_worldwide
      FROM (SELECT DISTINCT movie_name, CAST(min_duration AS INTEGER) AS duration,
                   rating, budget, gross_worldwide, url FROM movie_raw) t1
      JOIN movie_hub t2
        ON md5(t1.movie_name || CAST(t1.duration AS VARCHAR)) = t2.movie_id
    ),
    per_movie AS (
      SELECT movie_id, AVG(TRY_CAST(rating AS DOUBLE)) AS rating,
             AVG(TRY_CAST(budget AS BIGINT)) AS budget,
             AVG(TRY_CAST(gross_worldwide AS BIGINT)) AS gross_worldwide
      FROM movie_info_sat GROUP BY movie_id
    ),
    t3 AS (
      SELECT gh.genre_id, mh.movie_id, mh.movie_nm, mh.movie_duration,
             t2.rating, t2.budget, t2.gross_worldwide, gh.genre_nm
      FROM per_movie t2
      JOIN movie_hub mh ON mh.movie_id = t2.movie_id
      JOIN movie_genre_link mgl ON t2.movie_id = mgl.movie_id
      JOIN genre_hub gh ON gh.genre_id = mgl.genre_id
    ),
    labeled AS (
      SELECT *, movie_nm || ', ' || CAST(movie_duration AS VARCHAR) || ' min' AS label
      FROM t3
    )
    SELECT genre_id, genre_nm AS genre,
           (SELECT label FROM labeled m1 WHERE m1.genre_nm = m.genre_nm
            ORDER BY budget DESC NULLS LAST, label DESC LIMIT 1) AS max_budget_movie,
           (SELECT label FROM labeled m1 WHERE m1.genre_nm = m.genre_nm
            ORDER BY gross_worldwide DESC NULLS LAST, label DESC LIMIT 1) AS max_gross_movie,
           (SELECT label FROM labeled m1 WHERE m1.genre_nm = m.genre_nm
            ORDER BY rating DESC NULLS LAST, label DESC LIMIT 1) AS best_rated_movie,
           CAST(ROUND(AVG(CAST(rating AS DECIMAL(18,6))), 4) AS DOUBLE) AS average_rating,
           COUNT(movie_id) AS genre_movie_quant
    FROM labeled m
    GROUP BY genre_id, genre_nm
    """,
)
def pipeline_genre_metrics(spark, sf_dir):
    wh = _ShimWarehouse(
        spark,
        {
            "movie_raw_data_imdb": lambda: _synth_movie_raw(spark, sf_dir)[0],
            "movie_raw_data_metacritic": lambda: _synth_movie_raw(spark, sf_dir)[0].filter(
                F.lit(False)
            ),
        },
        # movie_hub feeds 3 consumers (link builder, sat builder, final
        # join) and genre_hub 2 — materialize those; the link and sat
        # are single-consumer, so a checkpoint write would be pure cost
        materialize_stg={"movie_hub", "genre_hub"},
    )
    mis = wh.read("stg", "movie_info_sat")
    per_movie = mis.groupBy("movie_id").agg(
        F.avg(F.col("rating").cast("double")).alias("rating"),
        F.avg(F.col("budget").cast("bigint")).alias("budget"),
        F.avg(F.col("gross_worldwide").cast("bigint")).alias("gross_worldwide"),
    )
    mh = wh.read("stg", "movie_hub")
    mgl = wh.read("stg", "movie_genre_link").select("movie_id", "genre_id")
    gh = wh.read("stg", "genre_hub")
    t3 = (
        per_movie.join(mh, "movie_id")
        .join(mgl, "movie_id")
        .join(F.broadcast(gh), "genre_id")
    )
    label = F.concat(
        F.col("movie_nm"), F.lit(", "), F.col("movie_duration").cast("string"), F.lit(" min")
    )
    from ..operators.argmax import arg_max as _arg_max

    return (
        t3.groupBy("genre_id", F.col("genre_nm").alias("genre"))
        .agg(
            _arg_max(label, F.struct(F.col("budget"), label)).alias("max_budget_movie"),
            _arg_max(label, F.struct(F.col("gross_worldwide"), label)).alias("max_gross_movie"),
            _arg_max(label, F.struct(F.col("rating"), label)).alias("best_rated_movie"),
            F.round(F.avg(F.col("rating").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("average_rating"),
            F.count("movie_id").alias("genre_movie_quant"),
        )
    )


# Standalone movie_genre_link build (core/movie_genre_link.sql) — the
# J2 composite-natural-key join + F5 JSON genre explode through the
# REAL builder, with its own value-hash gate (previously only covered
# inside the pipeline_genre_metrics composition).
@query(
    "pipeline_movie_genre_link",
    _PIPELINE_SQL_PRELUDE
    + """,
    exploded AS (
      SELECT DISTINCT movie_name AS movie_nm, CAST(min_duration AS INTEGER) AS duration,
             unnest(from_json(replace(genres, '''', '"'), '["VARCHAR"]')) AS genre
      FROM movie_raw
    )
    SELECT DISTINCT md5(j.movie_id || g.genre_id) AS mv_gen_link_id,
           j.movie_id, g.genre_id
    FROM exploded i
    JOIN movie_hub j ON i.movie_nm = j.movie_nm AND i.duration = j.movie_duration
    JOIN genre_hub g ON g.genre_nm = i.genre
    """,
)
def pipeline_movie_genre_link(spark, sf_dir):
    wh = _ShimWarehouse(
        spark,
        {
            "movie_raw_data_imdb": lambda: _synth_movie_raw(spark, sf_dir)[0],
            "movie_raw_data_metacritic": lambda: _synth_movie_raw(spark, sf_dir)[0].filter(
                F.lit(False)
            ),
        },
        # movie_hub feeds the composite-key join only once here, but
        # genre_hub is broadcast — no multi-consumer table, no
        # materialization needed
    )
    return wh.read("stg", "movie_genre_link").select(
        "mv_gen_link_id", "movie_id", "genre_id"
    )


# ===========================================================================
# Custom join operators + OLAP extensions (as-of join, range join,
# rollup, pivot, approximate sketches).
# ===========================================================================

from ..operators.asof import asof_join, range_join_bucketed  # noqa: E402


# As-of join: every click paired with the user's most recent purchase at
# or before it.  DuckDB has native ASOF JOIN; ours is the union-sort
# single-shuffle formulation (operators/asof.py).
@query(
    "asof_join_events",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           CAST(c.ts AS VARCHAR) AS click_ts,
           p.value AS value_asof
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def asof_join_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(clicks, purchases, key="user_id", right_payload=["value"])
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("click_ts"),
        F.col("value_asof"),
    )


# Range join: (click, purchase) pairs within a 1-hour lookback, same user.
@query(
    "range_join_events",
    """
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'
    )
    SELECT c.click_id, p.purchase_id
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND p.purchase_ts <= c.click_ts
     AND p.purchase_ts >= c.click_ts - INTERVAL 1 HOUR
    """,
)
def range_join_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = range_join_bucketed(
        clicks, purchases, "user_id", "click_ts", "purchase_ts", range_seconds=3600
    )
    return joined.select("click_id", "purchase_id")


# Grouping-set aggregation (beyond the reference's plain GROUP BY).
@query(
    "rollup_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("total"),
    )


# Pivot (wide aggregation).
@query(
    "pivot_lineitem_status",
    """
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (l_linestatus = 'O'), 2) AS DOUBLE) AS O,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (l_linestatus = 'F'), 2) AS DOUBLE) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_lineitem_status(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum(_dec("l_quantity")), 2).cast("double"))
    )
    return pv


# Approximate sketches (HLL distinct, approximate quantiles).  The
# estimates themselves are engine-internal (no cross-engine oracle),
# so the value-hash gate checks the published ERROR CONTRACT instead:
# the HLL estimate must land within 3·rsd of the exact distinct count
# (rsd=0.05 default → ±15%), and each approx quantile must fall
# between the exact quantiles at p∓0.01 (accuracy=10000 guarantees
# rank error ≤ 1e-4 — 100× slack).  Both engines emit the exact
# counts plus the pass/fail booleans; DuckDB's booleans are literal
# TRUE, so any sketch drifting out of contract breaks the hash.
# Scalars only (not array<double>): the driver's canonicalizer cannot
# sort list cells (round-1 failure).
@query(
    "approx_sketches",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS hll_within_3rsd,
           TRUE AS p50_within_rank_eps,
           TRUE AS p95_within_rank_eps,
           TRUE AS p99_within_rank_eps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_sketches(spark, sf_dir):
    from ..operators.percentile import exact_percentiles_grouped

    li = _t(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("__approx_parts"),
        F.percentile_approx(
            "l_extendedprice", [0.5, 0.95, 0.99], 10000
        ).alias("__q"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts")
    )
    bounds = exact_percentiles_grouped(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [0.49, 0.51, 0.94, 0.96, 0.98, 1.0],
        ["__lo50", "__hi50", "__lo95", "__hi95", "__lo99", "__hi99"],
    )

    def _band(q_idx: int, lo: str, hi: str):
        v = F.col("__q").getItem(q_idx)
        return (v >= F.col(lo)) & (v <= F.col(hi))

    return (
        exact.join(approx, "l_returnflag")
        .join(bounds, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("__approx_parts") - F.col("exact_parts"))
                <= F.lit(0.15) * F.col("exact_parts")
            ).alias("hll_within_3rsd"),
            _band(0, "__lo50", "__hi50").alias("p50_within_rank_eps"),
            _band(1, "__lo95", "__hi95").alias("p95_within_rank_eps"),
            _band(2, "__lo99", "__hi99").alias("p99_within_rank_eps"),
        )
    )


# ===========================================================================
# Full pipeline parity: the REAL builders for every remaining core table
# and mart (employee chain, movie_info_sat, movie_data, employee_data,
# movie_employee_link, rating_slide) on synthesized raw tables.
# ===========================================================================

from pyspark.sql import Window  # noqa: E402

from ..operators.dedup import embedding_neardup  # noqa: E402

# Actor-raw synthesis (portable to DuckDB) + the employee-side core
# tables, as reusable CTEs appended to _PIPELINE_SQL_PRELUDE.
_ACTOR_SQL_CTES = """,
    actor_raw AS (
      SELECT p_name AS movie_name, p_size AS movie_duration, s_name AS name,
             '(as ' || s_name || ')' AS raw_role,
             (['director','producer','writer','actor'])[CAST(s_suppkey % 4 AS INTEGER) + 1] AS role
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
    ),
    emp_hub AS (
      SELECT md5(name) AS emp_id, name AS emp_nm
      FROM (SELECT DISTINCT name FROM actor_raw)
    ),
    mel_t2 AS (
      SELECT DISTINCT md5(movie_nm || CAST(duration AS VARCHAR)) AS movie_id,
             md5(name) AS emp_id
      FROM (SELECT DISTINCT movie_name AS movie_nm, movie_duration AS duration, name
            FROM actor_raw)
      WHERE md5(movie_nm || CAST(duration AS VARCHAR)) IS NOT NULL
    ),
    movie_emp_link AS (
      SELECT DISTINCT md5(t.movie_id || t.emp_id) AS movie_emp_link_id,
             t.movie_id, t.emp_id
      FROM mel_t2 t
      JOIN emp_hub e ON t.emp_id = e.emp_id
      JOIN movie_hub m ON t.movie_id = m.movie_id
    ),
    sat_t3 AS (
      SELECT DISTINCT
             md5(md5(movie_name || CAST(movie_duration AS VARCHAR)) || md5(name)) AS link_id,
             raw_role, role
      FROM (SELECT DISTINCT movie_name, movie_duration, name, raw_role, role FROM actor_raw)
    ),
    emp_movie_l_sat AS (
      SELECT DISTINCT md5(t3.link_id || t3.raw_role || t3.role) AS movie_emp_role_id,
             t3.link_id AS movie_emp_link_id, t3.raw_role AS description, t3.role
      FROM sat_t3 t3 JOIN movie_emp_link l ON t3.link_id = l.movie_emp_link_id
    )
"""

# Two-source movie_info_sat (METACRITIC = url-digit-parity subset so the
# source split is expressible in both engines).
_SAT_SQL_CTES = """,
    meta_raw AS (
      SELECT * FROM movie_raw
      WHERE CAST(regexp_extract(url, '([0-9]+)$', 1) AS INTEGER) % 2 = 0
    ),
    sat_films AS (
      SELECT movie_name, CAST(min_duration AS INTEGER) AS duration, original_name, year,
             certificate, rating, budget, gross_worldwide, 'IMDB' AS scr_nm, url
      FROM movie_raw
      UNION
      SELECT movie_name, CAST(min_duration AS INTEGER) AS duration, original_name, year,
             certificate, rating, budget, gross_worldwide, 'METACRITIC' AS scr_nm, url
      FROM meta_raw
    ),
    movie_info_sat AS (
      SELECT DISTINCT md5(t2.movie_id || t1.url) AS title_item_id, t2.movie_id,
             t1.original_name, t1.year, t1.certificate, t1.rating, t1.budget,
             t1.gross_worldwide, t1.scr_nm, t1.url
      FROM sat_films t1
      JOIN movie_hub t2 ON md5(t1.movie_name || CAST(t1.duration AS VARCHAR)) = t2.movie_id
    )
"""

_SAT_ATTRS = [
    "movie_id",
    "original_name",
    "year",
    "certificate",
    "rating",
    "budget",
    "gross_worldwide",
    "scr_nm",
    "url",
]


def _url_parity(n: int) -> F.Column:
    """Engine-portable pseudo-split: partkey digits at the url tail."""
    return F.regexp_extract("url", r"([0-9]+)$", 1).cast("int") % n == 0


def _movie_meta_wh(spark, sf_dir) -> _ShimWarehouse:
    return _ShimWarehouse(
        spark,
        {
            "movie_raw_data_imdb": lambda: _synth_movie_raw(spark, sf_dir)[0],
            "movie_raw_data_metacritic": lambda: _synth_movie_raw(spark, sf_dir)[0].filter(
                _url_parity(2)
            ),
        },
    )


def _synth_actor_dedup(spark, sf_dir) -> DataFrame:
    """The wide-distinct actor projection in ONE shuffle.

    Set-equal to ``_synth_actor_raw()[0].distinct()``: the synth's inner
    ``(l_partkey, l_suppkey)`` distinct is redundant under the outer
    5-column distinct — the same key pair always projects to the same
    (movie_name, movie_duration, name, raw_role, role) row, so deduping
    pairs first only pre-collapses rows the wide distinct collapses
    anyway.  Skipping it saves a full 600k-row shuffle at sf0.1."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    j = (
        li.select("l_partkey", "l_suppkey")
        .join(
            p.select("p_partkey", "p_name", "p_size"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
    )
    role = F.element_at(
        F.array(F.lit("director"), F.lit("producer"), F.lit("writer"), F.lit("actor")),
        (F.col("s_suppkey") % 4 + 1).cast("int"),
    )
    return j.select(
        F.col("p_name").alias("movie_name"),
        F.col("p_size").cast("int").alias("movie_duration"),
        F.col("s_name").alias("name"),
        F.concat(F.lit("(as "), F.col("s_name"), F.lit(")")).alias("raw_role"),
        role.alias("role"),
    ).distinct()


def _actor_wh(spark, sf_dir, dedup_actor: bool = False) -> _ShimWarehouse:
    if dedup_actor:
        # The actor bronze is the heavy input (lineitem ⋈ part ⋈
        # supplier), and employee_hub / movie_emp_link / emp_movie_l_sat
        # each union imdb+metacritic and re-distinct it (round-5 verdict
        # task #4: the actor distinct chains made pipeline_employee_data
        # the slowest query on the surface).  Serve ONE pre-distincted
        # checkpointed projection as the imdb side and an EMPTY
        # metacritic side: every builder's union-dedup is set-identical
        # (the synthetic metacritic actor side is a subset of imdb, so
        # it vanishes under UNION-dedup — same convention as
        # warehouse_scd2_two_batch_disk's empty side), the wide distinct
        # happens once instead of ~3×, and downstream distincts run over
        # the materialized 540k-row frame instead of an 890k-row union.
        # Builders reference columns by name, never df.attr, so the
        # shared leaf is safe.  Measured 15.6s → 7s best-of-3 at sf0.1
        # (fresh JVM per variant; NOTES.md "Round 6 (work log)" item 4).
        actors = materialize(_synth_actor_dedup(spark, sf_dir), "actor_dedup")
        actors_empty = actors.filter(F.lit(False))
        bronze_actor = {
            "actor_raw_data_imdb": lambda: actors,
            "actor_raw_data_metacritic": lambda: actors_empty,
        }
    else:
        bronze_actor = {
            "actor_raw_data_imdb": lambda: _synth_actor_raw(spark, sf_dir)[0],
            "actor_raw_data_metacritic": lambda: _synth_actor_raw(spark, sf_dir)[1],
        }
    wh = _ShimWarehouse(
        spark,
        {
            "movie_raw_data_imdb": lambda: _synth_movie_raw(spark, sf_dir)[0],
            "movie_raw_data_metacritic": lambda: _synth_movie_raw(spark, sf_dir)[1],
            **bronze_actor,
        },
    )
    if dedup_actor:
        # Declared uniqueness (plans/core.known_distinct): the shared
        # actor projection is DISTINCT on its full 5-column grain and
        # the metacritic side is empty, so every builder union-dedup of
        # it is the identity.  It is ALSO distinct on the 3-col
        # (movie, duration, name) grain because (raw_role, role) are
        # functions of the (unique-named) supplier — verified
        # count(5-col distinct) == count(3-col distinct) == 539,676 at
        # sf0.1 — which makes the link/sat builders' intermediate and
        # output dedups identities too.  The hub uniqueness hints are
        # builder invariants (md5 key over a distincted grain).  Net:
        # the employee pipeline drops ~5 full-width 540k-row exchanges,
        # exactly the declared-PK dedup elimination a real warehouse
        # planner performs.
        five = frozenset(
            {"movie_name", "movie_duration", "name", "raw_role", "role"}
        )
        three = frozenset({"movie_name", "movie_duration", "name"})
        wh.distinct_hints = {
            ("bronze", "actor_union"): {five, three},
            ("stg", "employee_hub"): {frozenset({"emp_id"})},
            ("stg", "movie_hub"): {frozenset({"movie_id"})},
        }
    return wh


@query(
    "pipeline_employee_hub",
    _PIPELINE_SQL_PRELUDE + _ACTOR_SQL_CTES + "SELECT emp_id, emp_nm FROM emp_hub",
)
def pipeline_employee_hub(spark, sf_dir):
    return _core.build_employee_hub(_actor_wh(spark, sf_dir))


@query(
    "pipeline_movie_emp_link",
    _PIPELINE_SQL_PRELUDE
    + _ACTOR_SQL_CTES
    + "SELECT movie_emp_link_id, movie_id, emp_id FROM movie_emp_link",
)
def pipeline_movie_emp_link(spark, sf_dir):
    return _core.build_movie_emp_link(_actor_wh(spark, sf_dir))


@query(
    "pipeline_emp_movie_l_sat",
    _PIPELINE_SQL_PRELUDE
    + _ACTOR_SQL_CTES
    + "SELECT movie_emp_role_id, movie_emp_link_id, description, role FROM emp_movie_l_sat",
)
def pipeline_emp_movie_l_sat(spark, sf_dir):
    # dedup_actor: this builder consumes the actor bronze TWICE (its own
    # union + the link membership join's) — the shared wide-distinct
    # checkpoint pays for itself (6.3s -> 4.0s best-of-3 at sf0.1);
    # set-identical semantics, same oracle.
    return _core.build_emp_movie_l_sat(_actor_wh(spark, sf_dir, dedup_actor=True))


@query(
    "pipeline_movie_info_sat",
    _PIPELINE_SQL_PRELUDE
    + _SAT_SQL_CTES
    + """
    SELECT title_item_id, movie_id, original_name, year, certificate, rating,
           budget, gross_worldwide, scr_nm, url
    FROM movie_info_sat
    """,
)
def pipeline_movie_info_sat(spark, sf_dir):
    return _core.build_movie_info_sat(_movie_meta_wh(spark, sf_dir))


# mart/movie_data.sql through the real builder, over an SCD2-historized
# sat (single batch → every row current; P6 filter exercised for real).
@query(
    "pipeline_movie_data",
    _PIPELINE_SQL_PRELUDE
    + _SAT_SQL_CTES
    + """
    SELECT s.title_item_id, m.movie_nm AS movie_name, m.movie_duration,
           COALESCE(s.original_name, '') AS original_name,
           COALESCE(s.year, '') AS year,
           s.rating,
           COALESCE(s.budget, '') AS budget,
           COALESCE(s.gross_worldwide, '') AS worldwide_gross,
           s.scr_nm AS rating_source, s.url
    FROM movie_hub m JOIN movie_info_sat s ON m.movie_id = s.movie_id
    """,
)
def pipeline_movie_data(spark, sf_dir):
    wh = _movie_meta_wh(spark, sf_dir)
    sat = wh.read("stg", "movie_info_sat")
    wh._stg["movie_info_sat"] = scd2_apply(None, sat, "title_item_id", _SAT_ATTRS, _SCD2_T0)
    return _marts.build_movie_data(wh)


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Per-invocation scratch root for the disk-path queries.  A FIXED
    path (round-3 shape) races when two processes run the same query
    concurrently — e.g. bench.py and check_oracle.py on one sf_dir both
    rmtree + rewrite the same version pointer (ADVICE r3).  mkdtemp
    gives every invocation its own root, so version pointers and
    committed tables isolate too.

    Failure hygiene: _finish_scratch only runs on success, so a
    crashed/interrupted invocation abandons its dir.  Each call
    therefore garbage-collects SIBLING per-invocation dirs older than
    an hour (the ``<tag>_<sf>_`` mkdtemp pattern only — the long-lived
    ``neardup_cc_cache`` never matches), keeping accumulation bounded
    without racing live concurrent runs."""
    import shutil
    import tempfile
    import time as _time

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(repo_root, ".scratch")
    os.makedirs(base, exist_ok=True)
    cutoff = _time.time() - 3600
    for entry in os.listdir(base):
        path = os.path.join(base, entry)
        try:
            if (
                "_sf" in entry
                and os.path.isdir(path)
                and os.path.getmtime(path) < cutoff
            ):
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass  # raced with a concurrent GC — fine
    return tempfile.mkdtemp(
        prefix=f"{tag}_{os.path.basename(sf_dir.rstrip('/'))}_", dir=base
    )


def _finish_scratch(df: DataFrame, root: str) -> DataFrame:
    """Materialize the read-back frame off its scratch files (the disk
    round-trip has happened by then), then delete the scratch root so
    per-invocation temp dirs never accumulate.  The returned plan
    references only the checkpointed blocks, so the caller can hold it
    indefinitely."""
    import shutil

    out = materialize(df, "scratch_readback")
    shutil.rmtree(root, ignore_errors=True)
    return out


# The same mart through the REAL persistence path: bronze parquet on
# disk → Warehouse.run_table (repair → builder → align_to_spec → SCD2 /
# insert-only merge → VersionedParquetTable atomic version swap) → read
# the COMMITTED mart version back from parquet.  Round 2's pipeline_*
# queries all ran through the in-memory _ShimWarehouse; this closes the
# "no driver-checked query runs Warehouse/VersionedParquetTable"
# verification gap (VERDICT r2).  Same oracle as pipeline_movie_data.
@query(
    "warehouse_movie_data_disk",
    _PIPELINE_SQL_PRELUDE
    + _SAT_SQL_CTES
    + """
    SELECT s.title_item_id, m.movie_nm AS movie_name, m.movie_duration,
           COALESCE(s.original_name, '') AS original_name,
           COALESCE(s.year, '') AS year,
           s.rating,
           COALESCE(s.budget, '') AS budget,
           COALESCE(s.gross_worldwide, '') AS worldwide_gross,
           s.scr_nm AS rating_source, s.url
    FROM movie_hub m JOIN movie_info_sat s ON m.movie_id = s.movie_id
    """,
)
def warehouse_movie_data_disk(spark, sf_dir):
    from ..plans.pipeline import Warehouse
    from ..sources.bronze import write_bronze

    # fresh per-invocation layout: deterministic v1 commits, no
    # cross-process version-pointer race (see _scratch_dir)
    root = _scratch_dir("wh_disk", sf_dir)
    bronze_root = os.path.join(root, "bronze")
    imdb, _ = _synth_movie_raw(spark, sf_dir)
    write_bronze(imdb, bronze_root, "movie_raw_data_imdb")
    write_bronze(imdb.filter(_url_parity(2)), bronze_root, "movie_raw_data_metacritic")
    wh = Warehouse(spark, bronze_root, os.path.join(root, "warehouse"))
    wh.run_table("stg", "movie_hub", _SCD2_T0)
    wh.run_table("stg", "movie_info_sat", _SCD2_T0)
    wh.run_table("data_mart", "movie_data", _SCD2_T0)
    return _finish_scratch(wh.read("data_mart", "movie_data"), root)


# The big SCD2 link table through the real disk path: run_table commits
# stg movie_emp_link as one versioned parquet directory (with its
# committed schema) and the query reads that version back.  The
# name is historical: the table was once a bucketed catalog table; the
# bucketed link ⋈ sat layout itself is covered by
# tests/test_plan_quality.py::test_bucketed_scd2_tables_join_without_shuffle.
@query(
    "warehouse_emp_link_bucketed_disk",
    _PIPELINE_SQL_PRELUDE
    + _ACTOR_SQL_CTES
    + "SELECT movie_emp_link_id, movie_id, emp_id FROM movie_emp_link",
)
def warehouse_emp_link_bucketed_disk(spark, sf_dir):
    from ..plans.pipeline import Warehouse
    from ..sources.bronze import write_bronze

    root = _scratch_dir("wh_bucketed", sf_dir)
    bronze_root = os.path.join(root, "bronze")
    imdb, meta = _synth_movie_raw(spark, sf_dir)
    actors, actors_meta = _synth_actor_raw(spark, sf_dir)
    write_bronze(imdb, bronze_root, "movie_raw_data_imdb")
    write_bronze(meta, bronze_root, "movie_raw_data_metacritic")
    write_bronze(actors, bronze_root, "actor_raw_data_imdb")
    write_bronze(actors_meta, bronze_root, "actor_raw_data_metacritic")
    wh = Warehouse(spark, bronze_root, os.path.join(root, "warehouse"))
    wh.run_table("stg", "movie_hub", _SCD2_T0)
    wh.run_table("stg", "employee_hub", _SCD2_T0)
    wh.run_table("stg", "movie_emp_link", _SCD2_T0)
    return _finish_scratch(
        wh.read("stg", "movie_emp_link").select(
            "movie_emp_link_id", "movie_id", "emp_id"
        ),
        root,
    )


# Two SCD2 batches through the REAL disk path: batch 1 loads the sat,
# the bronze table is then OVERWRITTEN with changed ratings (url-digit
# %7 movies, the rating_slide scenario) and the merge re-runs — so the
# version-2 table on disk must hold, per changed key, a closed T0 row
# (valid_to = T1) plus an open T1 row, and untouched keys keep their
# single open T0 row.  Exercises: versioned re-merge (v1→v2 commit +
# atomic pointer swap), align_to_spec on
# the committed target, and bronze truncate-then-load (S10).  Validity
# columns cast to string (9999-12-31 sentinel overflows pandas ns).
@query(
    "warehouse_scd2_two_batch_disk",
    _PIPELINE_SQL_PRELUDE
    + """,
    sat_films AS (
      SELECT DISTINCT movie_name, CAST(min_duration AS INTEGER) AS duration,
             rating, url
      FROM movie_raw
    ),
    movie_info_sat AS (
      SELECT DISTINCT md5(t2.movie_id || t1.url) AS title_item_id, t2.movie_id,
             t1.rating, t1.url
      FROM sat_films t1
      JOIN movie_hub t2 ON md5(t1.movie_name || CAST(t1.duration AS VARCHAR)) = t2.movie_id
    ),
    changed AS (
      SELECT title_item_id FROM movie_info_sat
      WHERE CAST(regexp_extract(url, '([0-9]+)$', 1) AS INTEGER) % 7 = 0
    )
    SELECT s.title_item_id, s.movie_id,
           CASE WHEN c.title_item_id IS NOT NULL AND v.batch = 1
                THEN s.rating || '5' ELSE s.rating END AS rating,
           CASE WHEN v.batch = 1 AND c.title_item_id IS NOT NULL
                THEN '2024-02-01 00:00:00' ELSE '2024-01-01 00:00:00' END AS valid_from,
           CASE WHEN v.batch = 0 AND c.title_item_id IS NOT NULL
                THEN '2024-02-01 00:00:00' ELSE '9999-12-31 00:00:00' END AS valid_to
    FROM movie_info_sat s
    LEFT JOIN changed c ON s.title_item_id = c.title_item_id
    JOIN (SELECT 0 AS batch UNION ALL SELECT 1) v
      ON v.batch = 0 OR c.title_item_id IS NOT NULL
    """,
)
def warehouse_scd2_two_batch_disk(spark, sf_dir):
    from ..plans.pipeline import Warehouse
    from ..sources.bronze import write_bronze

    root = _scratch_dir("wh_scd2", sf_dir)
    bronze_root = os.path.join(root, "bronze")
    # single-source sat: with both sources live, IMDB+METACRITIC rows
    # share a title_item_id (md5(movie_id||url)) and a multi-row pk
    # makes SCD2 change detection ill-defined — same setup as
    # pipeline_rating_slide (the reference's per-source sat keys are
    # unique per batch; the dual-source dup is a synthetic artifact)
    imdb, _ = _synth_movie_raw(spark, sf_dir)
    empty_meta = imdb.filter(F.lit(False))
    write_bronze(imdb, bronze_root, "movie_raw_data_imdb")
    write_bronze(empty_meta, bronze_root, "movie_raw_data_metacritic")
    wh = Warehouse(spark, bronze_root, os.path.join(root, "warehouse"))
    wh.run_table("stg", "movie_hub", _SCD2_T0)
    wh.run_table("stg", "movie_info_sat", _SCD2_T0)
    # batch 2: truncate-then-load bronze with mutated ratings, re-merge
    mutated = imdb.withColumn(
        "rating",
        F.when(_url_parity(7), F.concat(F.col("rating"), F.lit("5"))).otherwise(
            F.col("rating")
        ),
    )
    # read-then-overwrite of the same parquet fails mid-scan; stage the
    # mutated frame from the original (in-memory) plan instead
    write_bronze(mutated, bronze_root, "movie_raw_data_imdb")
    wh.run_table("stg", "movie_info_sat", _SCD2_T1)
    sat = wh.table("stg", "movie_info_sat").read()
    return _finish_scratch(
        sat.select(
            "title_item_id",
            "movie_id",
            "rating",
            F.col("valid_from").cast("string").alias("valid_from"),
            F.col("valid_to").cast("string").alias("valid_to"),
        ),
        root,
    )


@query(
    "pipeline_employee_data",
    _PIPELINE_SQL_PRELUDE
    + _ACTOR_SQL_CTES
    + """
    SELECT DISTINCT s.movie_emp_role_id, h.emp_nm AS name, s.role,
           CASE WHEN s.description = 'NaN' THEN ''
                ELSE replace(replace(s.description, ')', ''), '(', '')
           END AS role_description
    FROM emp_hub h
    JOIN movie_emp_link l ON h.emp_id = l.emp_id
    JOIN emp_movie_l_sat s ON l.movie_emp_link_id = s.movie_emp_link_id
    """,
)
def pipeline_employee_data(spark, sf_dir):
    # Same eager-materialization discipline as pipeline_rating_slide
    # (NOTES.md): the historized link feeds the sat builder's membership
    # semi-join AND the mart's filter_latest (which itself references
    # its input twice: rows + the broadcast max aggregate) —
    # unmaterialized, the heavy actor_raw→link chain executed ~5×
    # (measured 34.7s cold at sf0.1).
    # dedup_actor (round-6): ONE shared wide-distinct actor projection
    # replaces the three builders' re-distinct of the full union —
    # see _actor_wh.  15.6s → ~7s best-of-3 at sf0.1.
    wh = _actor_wh(spark, sf_dir, dedup_actor=True)
    # employee_hub is read by the link builder AND the mart — one
    # distinct-shuffle over the actor table instead of two
    wh._stg["employee_hub"] = materialize(wh.read("stg", "employee_hub"), "stg.employee_hub")
    mel = scd2_apply(
        None,
        wh.read("stg", "movie_emp_link"),
        "movie_emp_link_id",
        ["movie_id", "emp_id"],
        _SCD2_T0,
    )
    mel = materialize(mel, "scd2.movie_emp_link")
    wh._stg["movie_emp_link"] = mel
    # Freshly bootstrapped SCD2 over a key-distinct snapshot: exactly
    # one (open) version per movie_emp_link_id, so the sat builder's
    # membership probe can skip ITS key-dedup shuffle too.
    wh.distinct_hints[("stg", "movie_emp_link")] = {
        frozenset({"movie_emp_link_id"})
    }
    s = wh.read("stg", "emp_movie_l_sat")
    # The sat is deliberately NOT checkpointed: its only consumer is the
    # mart's filter_latest (rows + 1-row max agg), and re-running the
    # sat chain once over the materialized dd/link inputs is cheaper
    # than a 540k-row checkpoint write (A/B recorded in NOTES.md
    # "Round 6 (work log)" item 4: nosatmat 6-7s vs satmat 7.4-7.8s
    # best-of-3).
    wh._stg["emp_movie_l_sat"] = scd2_apply(
        None, s, "movie_emp_role_id", ["movie_emp_link_id", "description", "role"], _SCD2_T0
    )
    # Bootstrapped sat: one open version per movie_emp_role_id (the
    # builder output is key-unique by md5 construction) — lets the mart
    # elide its final output dedup.
    wh.distinct_hints[("stg", "emp_movie_l_sat")] = {
        frozenset({"movie_emp_role_id"})
    }
    return _marts.build_employee_data(wh)


@query(
    "pipeline_movie_employee_link",
    _PIPELINE_SQL_PRELUDE
    + _ACTOR_SQL_CTES
    + """
    SELECT DISTINCT l.movie_emp_link_id, m.movie_nm, m.movie_duration, h.emp_nm
    FROM movie_hub m
    JOIN movie_emp_link l ON m.movie_id = l.movie_id
    JOIN emp_hub h ON l.emp_id = h.emp_id
    """,
)
def pipeline_movie_employee_link(spark, sf_dir):
    # dedup_actor: link + employee_hub each union the bronze — two
    # consumers (6.0s -> 5.0s best-of-3 at sf0.1).
    return _marts.build_movie_employee_link(_actor_wh(spark, sf_dir, dedup_actor=True))


# mart/rating_slide.sql end-to-end: two SCD2 batches (batch 2 changes
# ratings for url-digit %7 movies), latest-vs-top2 snapshot compare,
# global rank, full outer join — all through the real builders.
@query(
    "pipeline_rating_slide",
    _PIPELINE_SQL_PRELUDE
    + """,
    sat1 AS (
      SELECT DISTINCT md5(t2.movie_id || t1.url) AS title_item_id, t2.movie_id,
             t1.rating, t1.url
      FROM (SELECT DISTINCT movie_name, CAST(min_duration AS INTEGER) AS duration,
                   rating, url FROM movie_raw) t1
      JOIN movie_hub t2 ON md5(t1.movie_name || CAST(t1.duration AS VARCHAR)) = t2.movie_id
    ),
    changed AS (
      SELECT movie_id, rating || '5' AS rating
      FROM sat1
      WHERE CAST(regexp_extract(url, '([0-9]+)$', 1) AS INTEGER) % 7 = 0
    ),
    t1g AS (
      SELECT m.movie_nm, m.movie_duration, c.movie_id,
             AVG(TRY_CAST(c.rating AS DOUBLE)) AS rating
      FROM changed c JOIN movie_hub m ON m.movie_id = c.movie_id
      GROUP BY m.movie_nm, m.movie_duration, c.movie_id
    ),
    t1 AS (
      SELECT *, row_number() OVER (
        ORDER BY round(rating, 4) DESC, CAST(movie_duration AS INTEGER) DESC, movie_id) AS place
      FROM t1g
    ),
    t2 AS (SELECT DISTINCT movie_id FROM sat1)
    SELECT COALESCE(t1.movie_id, t2.movie_id) AS movie_id,
           t1.movie_nm AS movie_name,
           CAST(t1.movie_duration AS INTEGER) AS duration,
           ROUND(t1.rating, 4) AS current_rating,
           t1.place AS current_place
    FROM t1 FULL JOIN t2 ON t1.movie_id = t2.movie_id
    """,
)
def pipeline_rating_slide(spark, sf_dir):
    wh = _ShimWarehouse(
        spark,
        {
            "movie_raw_data_imdb": lambda: _synth_movie_raw(spark, sf_dir)[0],
            "movie_raw_data_metacritic": lambda: _synth_movie_raw(spark, sf_dir)[0].filter(
                F.lit(False)
            ),
        },
    )
    # Materialization discipline (A/B-measured at sf0.1, 48s → 7s):
    # - ``sat`` is read by BOTH scd2 batches (s1 input, b2 derivation) —
    #   materialize EAGERLY, else the raw→hub→sat builder chain
    #   executes once per reference (no cross-branch CSE in Catalyst).
    # - the historized ``s2`` feeds BOTH snapshot branches (t1 latest /
    #   t2 top-2) and the rank's offset job — same reasoning.
    # - movie_hub IS materialized (round-3 revision of the r2 rule):
    #   AQE's runtime shuffle statistics over the checkpoint keep the
    #   hub⋈sat joins broadcast, and skipping the 2× hub rebuild wins —
    #   A/B at sf0.1: 5.1→3.7s steady, 12.1→4.7s cold.
    wh._stg["movie_hub"] = materialize(wh.read("stg", "movie_hub"), "stg.movie_hub")
    sat = materialize(wh.read("stg", "movie_info_sat"), "stg.movie_info_sat")
    b2 = sat.withColumn(
        "rating",
        F.when(_url_parity(7), F.concat(F.col("rating"), F.lit("5"))).otherwise(
            F.col("rating")
        ),
    )
    s1 = scd2_apply(None, sat, "title_item_id", _SAT_ATTRS, _SCD2_T0)
    s2 = materialize(scd2_apply(s1, b2, "title_item_id", _SAT_ATTRS, _SCD2_T1), "scd2.movie_info_sat")
    wh._stg["movie_info_sat"] = s2
    out = _marts.build_rating_slide(wh)
    return out.select(
        "movie_id",
        "movie_name",
        "duration",
        F.round("current_rating", 4).alias("current_rating"),
        "current_place",
    )


# ===========================================================================
# Embedding-cosine near-dup (5th dedup variant) + window frame functions.
# ===========================================================================

_ND_SIG_SQL = "concat(" + ", ".join(
    f"CASE WHEN v[{2 * j + 1}] - v[{2 * j + 2}] >= 0 THEN '1' ELSE '0' END"
    for j in range(8)
) + ")"


@query(
    "embedding_neardup_pairs",
    f"""
    WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    copies AS (
      SELECT id + 1000000 AS id, list_concat([v[1] + 0.05], v[2:]) AS v
      FROM base WHERE id % 20 = 0
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM copies),
    sig AS (SELECT id, v, {_ND_SIG_SQL} AS sig FROM corpus),
    scored AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                   6) AS score
      FROM sig a JOIN sig b ON a.sig = b.sig AND a.id < b.id
    )
    SELECT id_a, id_b, score FROM scored WHERE score >= 0.9
    """,
)
def embedding_neardup_pairs(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select(F.col("vec_id"), v.alias("embedding"))
    copies = base.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    corpus = base.unionByName(copies)
    return embedding_neardup(corpus, threshold=0.9).select("id_a", "id_b", "score")


# Window frames beyond the reference's bare row_number: lag/lead deltas,
# running total (ROWS UNBOUNDED PRECEDING), ntile quartiles.
@query(
    "window_frame_functions",
    """
    SELECT event_id, user_id,
           round(value - lag(value) OVER w, 6) AS delta_prev,
           round(lead(value) OVER w - value, 6) AS delta_next,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_total,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_frame_functions(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 6).alias("delta_next"),
        F.round(F.sum(_dec("value")).over(wcum), 2).cast("double").alias("running_total"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# ===========================================================================
# Scalar parsing (F13-F16), EXISTS semi-join, skew-salted aggregation,
# multimodal feature extraction.
# ===========================================================================

from ..functions.parsing import (  # noqa: E402
    parse_digits_to_long,
    parse_duration_minutes,
    parse_year,
)
from ..operators.multimodal import extract_features  # noqa: E402
from ..operators.skew import salted_agg  # noqa: E402


# F13 digit-extraction, F14 duration parse, F15 rating rescale, F16 year
# extraction — the scrapers' parse helpers as engine scalar functions,
# exercised on synthesized messy strings.
@query(
    "scalar_parsing",
    """
    WITH messy AS (
      SELECT p_partkey,
             '$' || CAST(CAST(p_retailprice * 100 AS BIGINT) AS VARCHAR) || ' (est.)' AS budget_txt,
             CASE WHEN p_size >= 60
                  THEN CAST(p_size // 60 AS VARCHAR) || ' hours ' || CAST(p_size % 60 AS VARCHAR) || ' minutes'
                  ELSE CAST(p_size AS VARCHAR) || ' minutes'
             END AS dur_txt,
             'released (' || CAST(1900 + p_size AS VARCHAR) || ')' AS year_txt,
             p_retailprice % 100 AS metascore
      FROM part
    )
    SELECT p_partkey,
           TRY_CAST(NULLIF(regexp_replace(budget_txt, '[^0-9]', '', 'g'), '') AS BIGINT) AS budget_parsed,
           CAST(COALESCE(TRY_CAST(regexp_extract(dur_txt, '([0-9]+)\\s*h', 1) AS INTEGER), 0) * 60
                + COALESCE(TRY_CAST(regexp_extract(dur_txt, '([0-9]+)\\s*m', 1) AS INTEGER), 0) AS INTEGER) AS duration_min,
           TRY_CAST(regexp_extract(year_txt, '([0-9]{4})', 1) AS INTEGER) AS year_parsed,
           round(metascore / 10, 6) AS rating_rescaled
    FROM messy
    """,
)
def scalar_parsing(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    messy = p.select(
        "p_partkey",
        F.concat(
            F.lit("$"),
            (F.col("p_retailprice") * 100).cast("bigint").cast("string"),
            F.lit(" (est.)"),
        ).alias("budget_txt"),
        F.when(
            F.col("p_size") >= 60,
            F.concat(
                F.floor(F.col("p_size") / 60).cast("string"),
                F.lit(" hours "),
                (F.col("p_size") % 60).cast("string"),
                F.lit(" minutes"),
            ),
        )
        .otherwise(F.concat(F.col("p_size").cast("string"), F.lit(" minutes")))
        .alias("dur_txt"),
        F.concat(
            F.lit("released ("), (F.lit(1900) + F.col("p_size")).cast("string"), F.lit(")")
        ).alias("year_txt"),
        (F.col("p_retailprice") % 100).alias("metascore"),
    )
    return messy.select(
        "p_partkey",
        parse_digits_to_long(F.col("budget_txt")).alias("budget_parsed"),
        parse_duration_minutes(F.col("dur_txt")).alias("duration_min"),
        parse_year(F.col("year_txt")).alias("year_parsed"),
        F.round(F.col("metascore") / 10, 6).alias("rating_rescaled"),
    )


# EXISTS semi-join (the IN-subquery family's join form; P6 relative).
@query(
    "exists_semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    """,
)
def exists_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# Skew-salted two-phase aggregation: results must equal the plain
# groupBy (the oracle IS the plain groupBy).
@query(
    "salted_groupby_events",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def salted_groupby_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    return salted_agg(
        e,
        keys=["event_type"],
        partial_aggs={
            "__n": F.count(F.lit(1)),
            "__s": F.sum(_dec("value")),
        },
        final_aggs={
            "n": F.sum("__n"),
            "sum_value": F.round(F.sum("__s"), 2).cast("double"),
        },
        salt_col="event_id",
    )


# Multimodal feature extraction through the Arrow-batched mapInPandas
# path (fake decoder — real codecs absent by design).  The fake
# feature is pure byte arithmetic (byte-sum folded into 4 buckets over
# the UTF-8 payload), so DuckDB can replay it value-for-value from the
# same text column: the corpus is ASCII (guarded below via
# octet_length = length), so per-character ascii() IS the byte stream.
# This turns the r1-r3 rows-only check into a full value-hash gate on
# the mapInPandas path: batching, schema, checksum, and feature math.
@query(
    "multimodal_features",
    """
    WITH guard AS (
      -- byte-level replay is only valid on an ASCII corpus; a non-ASCII
      -- row would silently desync substr (chars) from bytes, so fail
      -- loudly instead (division by zero) if that assumption breaks
      SELECT CASE WHEN COUNT(*) = 0 THEN 1 ELSE 1 // 0 END AS ok
      FROM documents WHERE octet_length(encode(text)) <> length(text)
    ),
    pos AS (
      SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
      FROM documents
    ),
    bucket AS (
      SELECT doc_id, CAST((i - 1) % 4 AS INTEGER) AS j,
             SUM(ascii(substr(text, CAST(i AS INTEGER), 1))) AS s
      FROM pos GROUP BY doc_id, j
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS total FROM bucket GROUP BY doc_id
    )
    -- LEFT joins + coalesce: a zero-length text has no bucket rows but
    -- the Spark decoder still emits its row (n_bytes=0, features 0.0
    -- via the or-1.0 divisor guard)
    SELECT d.doc_id, 'image/fake' AS media_type,
           CAST(length(d.text) AS BIGINT) * (SELECT ok FROM guard) AS n_bytes,
           md5(d.text) AS checksum,
           round(COALESCE(MAX(CASE WHEN j = 0 THEN s END) / t.total, 0.0), 6) AS f0,
           round(COALESCE(MAX(CASE WHEN j = 1 THEN s END) / t.total, 0.0), 6) AS f1,
           round(COALESCE(MAX(CASE WHEN j = 2 THEN s END) / t.total, 0.0), 6) AS f2,
           round(COALESCE(MAX(CASE WHEN j = 3 THEN s END) / t.total, 0.0), 6) AS f3
    FROM documents d
    LEFT JOIN bucket b ON b.doc_id = d.doc_id
    LEFT JOIN tot t ON t.doc_id = d.doc_id
    GROUP BY d.doc_id, d.text, t.total
    """,
)
def multimodal_features(spark, sf_dir):
    media = attach_media(_t(spark, sf_dir, "documents"))
    feats = extract_features(media)
    # flatten the feature vector to scalars for the gate: the driver's
    # canonicalizer cannot sort list cells (round-1 approx_sketches
    # failure) — keep query outputs scalar even on rows-only checks
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "checksum",
        *[
            F.round(F.element_at("feature", i + 1), 6).alias(f"f{i}")
            for i in range(4)
        ],
    )


# IVF ANN — k-means cell pruning (the other scale path next to LSH);
# engine-internal index → rows-only check.
# k-means IVF ANN, audited with banded verdicts (round-4 verdict task
# #7 — the approx_sketches discipline): the index's VALUES aren't
# cross-engine checkable (k-means centroids are float-iteration
# artifacts), but its CONTRACT is — per query: results bounded by k,
# ranks contiguous from 1, scores non-increasing in rank, every cell
# assignment accounted for (Σ cell sizes = corpus), and recall@10 vs
# the brute-force cosine twin at or above a generous floor (n_probe=4
# of 16 cells; floor 0.2 — measured ≥0.4 across sf0.001/0.01/0.1, the
# slack absorbs k-means landing differently across partition layouts).
# The oracle emits the exact corpus anchor + TRUE literals, so the
# k-means path gets a hashable gate instead of a rows-only check.
@query(
    "ann_ivf",
    """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM embeddings)
    SELECT q.query_id, n.n_corpus,
           TRUE AS results_bounded_by_k,
           TRUE AS ranks_contiguous,
           TRUE AS scores_sorted,
           TRUE AS assignment_covers_corpus,
           TRUE AS recall_ge_floor
    FROM (SELECT unnest([0, 1, 2, 3, 4]) AS query_id) q CROSS JOIN n
    ORDER BY q.query_id
    """,
)
def ann_ivf(spark, sf_dir):
    from ..operators.similarity import cosine_topk, ivf_index, ivf_topk

    qids = [0, 1, 2, 3, 4]
    e = _t(spark, sf_dir, "embeddings")
    index = ivf_index(e, n_lists=16)
    assigned, _ = index
    ivf = ivf_topk(e, qids, k=10, n_probe=4, index=index, dims=64)
    bf = cosine_topk(e, qids, k=10, dims=64)

    n = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    covered = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("c")).agg(
        F.sum("c").cast("bigint").alias("n_assigned")
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    per_q = (
        ivf.withColumn("__prev_score", F.lag("score").over(w))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_res"),
            F.max("rank").alias("max_rank"),
            F.count_distinct("rank").alias("n_ranks"),
            F.min(
                F.when(F.col("__prev_score").isNull(), True).otherwise(
                    F.col("score") <= F.col("__prev_score")
                ).cast("int")
            ).alias("sorted_ok"),
        )
    )
    hits = (
        bf.select("query_id", "vec_id")
        .join(ivf.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    bfn = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_bf"))
    qframe = spark.range(len(qids)).select(F.col("id").cast("bigint").alias("query_id"))
    return (
        qframe.join(per_q, "query_id", "left")
        .join(bfn, "query_id", "left")
        .join(hits, "query_id", "left")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(covered))
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            "n_corpus",
            (F.coalesce("n_res", F.lit(0)) <= 10).alias("results_bounded_by_k"),
            (
                (F.col("max_rank") == F.col("n_res"))
                & (F.col("n_ranks") == F.col("n_res"))
            ).alias("ranks_contiguous"),
            (F.col("sorted_ok") == 1).alias("scores_sorted"),
            (F.col("n_assigned") == F.col("n_corpus")).alias(
                "assignment_covers_corpus"
            ),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_bf")
                >= F.lit(0.2)
            ).alias("recall_ge_floor"),
        )
        .orderBy("query_id")
    )


# PII/noise scrubbing over synthesized dirty text (emails + urls
# injected deterministically so the redaction paths actually fire).
@query(
    "scrub_documents",
    """
    WITH dirty AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                          ELSE '' END
                  || CASE WHEN doc_id % 4 = 0
                          THEN ' see https://site' || CAST(doc_id AS VARCHAR) || '.example/path?q=1 ok'
                          ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\\s]+', '<URL>', 'g') AS clean_text
    FROM dirty
    """,
)
def scrub_documents(spark, sf_dir):
    from ..operators.text import scrub_text

    d = _t(spark, sf_dir, "documents")
    dirty = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    F.col("doc_id").cast("string"),
                    F.lit(".example/path?q=1 ok"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return dirty.select("doc_id", scrub_text(F.col("text")).alias("clean_text"))


# Rolling (polynomial) fingerprint — order-sensitive document identity
# (vs the md5 normalization fingerprint in text_analysis).
@query(
    "rolling_fingerprint_docs",
    """
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(lower(text), ' '),
                 t -> CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp
    FROM documents
    """,
)
def rolling_fingerprint_docs(spark, sf_dir):
    from ..operators.text import rolling_fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("rolling_fp"))


# Sequence packing: the concat-and-cut training layout — each document
# gets its [start, end) span in the global token stream via a TWO-PHASE
# cumulative sum (operators/packing.py; a bare sum-over-order window is
# a one-task straggler at scale), then pure arithmetic assigns it to
# budget-sized sequences, splitting straddlers like the real layout.
@query(
    "pack_sequences_budget",
    """
    WITH toks AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS n FROM documents
    ),
    cum AS (
      SELECT doc_id, n,
             SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS e
      FROM toks WHERE n > 0
    ),
    spans AS (SELECT doc_id, n, e, e - n AS s FROM cum)
    SELECT doc_id, g.seq_id,
           CAST(least(e, (g.seq_id + 1) * 128) - greatest(s, g.seq_id * 128) AS BIGINT)
             AS tokens_in_seq,
           (g.seq_id = CAST(floor(s / 128) AS BIGINT)) AS starts_here
    FROM spans, LATERAL (
      SELECT unnest(generate_series(CAST(floor(s / 128) AS BIGINT),
                                    CAST(floor((e - 1) / 128) AS BIGINT))) AS seq_id
    ) g
    """,
)
def pack_sequences_budget(spark, sf_dir):
    from ..operators.packing import pack_sequences
    from ..operators.text import token_count_ws

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tok")
    )
    return pack_sequences(d, "doc_id", "n_tok", budget=128)


# Benchmark decontamination: corpus LEFT ANTI benchmark on the
# normalized-text fingerprint.  The synthetic benchmark is every %7th
# document, case-mutated and whitespace-padded, so only the
# normalization path can catch the leaks.
@query(
    "decontaminate_docs",
    f"""
    WITH bench AS (
      SELECT upper(text) || '  ' AS text FROM documents WHERE doc_id % 7 = 0
    ),
    bench_fp AS (SELECT DISTINCT {_NORM_SQL} AS fp FROM bench)
    SELECT doc_id FROM documents
    WHERE {_NORM_SQL} NOT IN (SELECT fp FROM bench_fp)
    """,
)
def decontaminate_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.upper("text"), F.lit("  ")).alias("text")
    )
    return decontaminate(d, bench, "doc_id", "text").select("doc_id")


# Deterministic global shuffle: training-order permutation as a rank
# under md5(id||salt) — reshufflable by salt, reproducible across
# retries (no rand()), two-phase so no single-task global sort.
@query(
    "deterministic_global_shuffle",
    """
    SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || 'epoch-0'), doc_id)
             AS pos
    FROM documents
    """,
)
def deterministic_global_shuffle(spark, sf_dir):
    from ..operators.packing import deterministic_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(d, "doc_id", "epoch-0")


# Repetition-ratio quality signal: share of a document's word 2-grams
# owned by its most repeated 2-gram (boilerplate/keyword-stuffing
# detector).  Mirrors shingle_rows' short-doc rule (< n words → one
# whole-text shingle).
@query(
    "repetition_ratio_docs",
    """
    WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
    grams AS (
      SELECT doc_id, unnest(
        CASE WHEN len(words) < 2 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words)),
                                 i -> array_to_string(words[i:i+1], ' '))
        END) AS s
      FROM tok
    ),
    per_gram AS (SELECT doc_id, s, COUNT(*) AS c FROM grams GROUP BY doc_id, s)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(MAX(c) AS BIGINT) AS max_gram_count,
           round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS repetition_ratio
    FROM per_gram GROUP BY doc_id
    """,
)
def repetition_ratio_docs(spark, sf_dir):
    from ..operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


# Sliding-window chunking (the RAG / long-context splitter): chunk c
# covers words [c·stride, c·stride+size); overlap = size − stride.
# Zero-shuffle: split once, arithmetic chunk count, explode + slice +
# array_join all inside whole-stage codegen.
@query(
    "chunk_documents_sliding",
    """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ),
    counted AS (
      SELECT doc_id, words,
             CAST(ceil(greatest(len(words) - 64, 0) / 48.0) AS INTEGER) + 1 AS n_chunks
      FROM tok
    )
    SELECT doc_id, g.c AS chunk_id,
           CAST(len(words[g.c * 48 + 1 : g.c * 48 + 64]) AS INTEGER) AS n_words,
           array_to_string(words[g.c * 48 + 1 : g.c * 48 + 64], ' ') AS chunk_text
    FROM counted, LATERAL (
      SELECT unnest(generate_series(0, CAST(n_chunks - 1 AS BIGINT))) AS c
    ) g
    """,
)
def chunk_documents_sliding(spark, sf_dir):
    from ..operators.text import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), chunk_size=64, stride=48)


# Unigram-LM quality scoring: mean −ln p(token) under the corpus's own
# empirical unigram distribution — the cheap perplexity proxy used to
# rank documents before an expensive LM filter.  The token rows are
# deliberately scanned twice (vocab pass + scoring pass): at 100 TB,
# re-scanning a column-pruned token stream beats materializing it.
@query(
    "unigram_logprob_docs",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
    ),
    vocab AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS tc FROM tok GROUP BY t),
    total AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt FROM vocab)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(AVG(-ln(CAST(tc AS DOUBLE) / tt)), 6) AS avg_neg_logprob
    FROM tok JOIN vocab USING (t) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def unigram_logprob_docs(spark, sf_dir):
    from ..operators.text import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


# BM25 lexical retrieval scoring — the classic relevance baseline (the
# lexical half of hybrid search, next to cosine_topk).  Global stats
# (N, avgdl, per-term doc frequency) come from ONE corpus aggregate
# broadcast back; per-doc term frequencies are the codegen
# array_remove size-delta; per-term contributions sum in literal order
# so the doubles are bit-identical across engines.
_BM25_TERMS = ["spark", "window", "merge"]


@query(
    "bm25_docs",
    f"""
    WITH tf AS (
      SELECT doc_id, len(w) AS dl,
             {", ".join(f"len(w) - len(list_filter(w, x -> x != '{t}')) AS tf{i}" for i, t in enumerate(_BM25_TERMS))}
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
             {", ".join(f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(_BM25_TERMS)))}
      FROM tf
    ),
    scored AS (
      SELECT doc_id, CAST(dl AS INTEGER) AS n_tokens,
             round({" + ".join(
                 f"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
                 f" * ((CAST(tf{i} AS DOUBLE) * 2.2) / (CAST(tf{i} AS DOUBLE)"
                 f" + 1.2 * (0.25 + (0.75 * CAST(dl AS DOUBLE)) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))"
                 for i in range(len(_BM25_TERMS)))}, 6) AS bm25
      FROM tf CROSS JOIN stats
    )
    SELECT doc_id, n_tokens, bm25 FROM scored WHERE bm25 > 0
    """,
)
def bm25_docs(spark, sf_dir):
    from ..operators.text import bm25_scores

    return bm25_scores(_t(spark, sf_dir, "documents"), _BM25_TERMS)


# Cross-document duplication audit: share of each doc's DISTINCT word
# 5-grams that occur in ≥2 documents.  Runs on the minhash corpus
# (base docs + mutated near-dup variants) so the signal is non-vacuous:
# variants share almost all 5-grams with their base.
@query(
    "dup_ngram_fraction_docs",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz yy xx' FROM documents WHERE doc_id % 25 = 0
    ),
    tok AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM corpus),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(words) < 5 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 3),
                                 i -> array_to_string(words[i:i+4], ' '))
        END AS shingles
      FROM tok
    ),
    dsh AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
    gdf AS (SELECT s, COUNT(*) AS gd FROM dsh GROUP BY s)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN gd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_shingles,
           round(CAST(SUM(CASE WHEN gd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_fraction
    FROM dsh JOIN gdf USING (s)
    GROUP BY doc_id
    """,
)
def dup_ngram_fraction_docs(spark, sf_dir):
    from ..operators.text import duplicated_ngram_fraction

    return duplicated_ngram_fraction(_minhash_corpus(spark, sf_dir), n=5)


# Partial-contamination score: fraction of each doc's distinct 5-grams
# found anywhere in a synthetic benchmark built by EMBEDDING mid-spans
# of every 9th document — the graded complement to decontaminate_docs'
# whole-document fingerprint anti-join.
@query(
    "contamination_ngram_docs",
    """
    WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
    bench AS (
      SELECT array_to_string(words[4:33], ' ') AS text FROM tok WHERE doc_id % 9 = 0
    ),
    btok AS (SELECT string_split(lower(text), ' ') AS words FROM bench),
    bsh AS (
      SELECT CASE WHEN len(words) < 5 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 3),
                                 i -> array_to_string(words[i:i+4], ' '))
        END AS shingles
      FROM btok
    ),
    bset AS (SELECT DISTINCT unnest(shingles) AS s FROM bsh),
    csh AS (
      SELECT doc_id,
        CASE WHEN len(words) < 5 THEN [array_to_string(words, ' ')]
             ELSE list_transform(range(1, len(words) - 3),
                                 i -> array_to_string(words[i:i+4], ' '))
        END AS shingles
      FROM tok
    ),
    dsh AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM csh)
    SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bench_hits,
           round(CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS overlap_frac
    FROM dsh d LEFT JOIN bset b USING (s)
    GROUP BY d.doc_id
    """,
)
def contamination_ngram_docs(spark, sf_dir):
    from ..operators.text import contamination_overlap, tokens

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 9 == 0).select(
        F.array_join(F.slice(tokens(F.col("text")), 4, 30), " ").alias("text")
    )
    return contamination_overlap(d, bench, n=5)


# Deployed quality classifier: fixed-weight logistic model over four
# engineered signals (token count, punct ratio, en-stopword rate,
# top-bigram repetition) — the engine-side form of a linear quality
# filter; weights are plan literals.
@query(
    "quality_logit_docs",
    """
    WITH tok AS (SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents),
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
             round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS repetition_ratio
      FROM per_gram GROUP BY doc_id
    ),
    feats AS (
      SELECT doc_id,
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
    )
    SELECT f.doc_id,
           round(-1.0 + 0.02 * ntok - 3.0 * punct + 4.0 * stop - 2.0 * repetition_ratio, 6) AS logit,
           round(1.0 / (1.0 + exp(-(-1.0 + 0.02 * ntok - 3.0 * punct + 4.0 * stop - 2.0 * repetition_ratio))), 6) AS quality_prob
    FROM feats f JOIN rep USING (doc_id)
    """,
)
def quality_logit_docs(spark, sf_dir):
    from ..operators.text import quality_logit_score

    return quality_logit_score(_t(spark, sf_dir, "documents"))


# Temperature-0.5 language rebalancing: data-derived per-stratum keep
# rates (√(min/count)), deterministic hash-bucket membership — the
# corpus-mixing step of dataset assembly.  The kept SET is
# engine-portable because √ and the bucket floor are correctly rounded.
@query(
    "balanced_resample_docs",
    """
    WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    m AS (SELECT MIN(cnt) AS mn FROM c),
    r AS (
      SELECT lang,
             CAST(floor(sqrt(CAST(mn AS DOUBLE) / CAST(cnt AS DOUBLE)) * 10000) AS INTEGER) AS th
      FROM c CROSS JOIN m
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
    WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < th
    """,
)
def balanced_resample_docs(spark, sf_dir):
    from ..operators.sampling import balanced_resample

    d = _t(spark, sf_dir, "documents")
    return balanced_resample(d, "doc_id", "lang").select("doc_id", "lang")


# Embedding diagnostics: cosine of every vector to its own label's
# centroid + in-label outlier rank (ascending cosine) — the mislabel /
# off-cluster audit.  Centroid elements are ORDER-STABLE sums (fold in
# vec_id order) so both engines build bit-identical centroids.
@query(
    "embedding_centroid_outliers",
    """
    WITH ex AS (
      SELECT vec_id, label, unnest(embedding) AS x,
             unnest(range(len(embedding))) AS pos
      FROM embeddings
    ),
    elem AS (
      SELECT label, pos,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), list(CAST(x AS DOUBLE) ORDER BY vec_id)),
                         (a, b) -> a + b) / COUNT(*) AS c
      FROM ex GROUP BY label, pos
    ),
    cent AS (
      SELECT label, list(c ORDER BY pos) AS cv FROM elem GROUP BY label
    ),
    cent2 AS (
      SELECT label, cv, list_dot_product(cv, cv) AS cc FROM cent
    ),
    scored AS (
      SELECT e.vec_id, e.label,
             round(list_dot_product(e.embedding::DOUBLE[], c.cv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(c.cc)),
                   6) AS cos_centroid
      FROM embeddings e JOIN cent2 c USING (label)
    )
    SELECT vec_id, label, cos_centroid,
           CAST(row_number() OVER (PARTITION BY label ORDER BY cos_centroid, vec_id) AS INTEGER)
             AS outlier_rank
    FROM scored
    """,
)
def embedding_centroid_outliers(spark, sf_dir):
    from ..operators.similarity import centroid_outliers

    e = _t(spark, sf_dir, "embeddings")
    return centroid_outliers(e, dims=64).select(
        "vec_id", "label", "cos_centroid", F.col("outlier_rank").cast("int").alias("outlier_rank")
    )


# TPC-H Q9 shape (product-type profit): 4-dim join chain + expression
# aggregate grouped by (nation, year).  No partsupp table in the
# testdata star — supply cost is proxied as 0.6·p_retailprice, which
# preserves the shape (profit = revenue − cost·qty).  All dimension
# joins broadcast; one shuffle on the final groupBy.
@query(
    "q9_product_type_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(ROUND(SUM(
             CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
             - CAST(0.6 AS DECIMAL(2,1)) * CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(9,0))
           ), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
    """,
)
def q9_product_type_profit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    amount = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) - F.lit(
        "0.6"
    ).cast("decimal(2,1)") * _dec("p_retailprice") * F.col("l_quantity").cast(
        "decimal(9,0)"
    )
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("profit"))
    )


# TPC-H Q17 shape (small-quantity revenue): correlated avg-per-part
# subquery decorrelated into a pre-aggregate + broadcast join back
# onto the fact — the canonical "filter a fact by its own per-key
# aggregate" plan.  Reported per brand to keep the result non-scalar.
@query(
    "q17_small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey,
             0.2 * ((CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS DOUBLE) / 10000.0) / COUNT(*)) AS qlim
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(ROUND((CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS DOUBLE) / 10000.0) / 7.0, 2) AS DOUBLE)
             AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_small
    FROM lineitem
    JOIN pa   USING (l_partkey)
    JOIN part ON p_partkey = l_partkey
    WHERE p_type = 'PROMO' AND l_quantity < qlim
    GROUP BY p_brand
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    pa = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                (F.sum(_units4("l_quantity")).cast("double") / F.lit(10000.0))
                / F.count(F.lit(1))
            )
        ).alias("qlim")
    )
    return (
        li.join(F.broadcast(pa), "l_partkey")
        .join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("qlim"))
        .groupBy("p_brand")
        .agg(
            (
                F.round(
                    (F.sum(_units4("l_extendedprice")).cast("double") / F.lit(10000.0))
                    / F.lit(7.0),
                    2,
                )
            )
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


# Ordered funnel analysis: view → click-after-view → purchase-after-
# click, counted per stage (the product-analytics shape a warehouse
# serves daily).  Each stage is a per-user MIN-timestamp aggregate
# joined forward with a strict ts inequality; user-grain aggregates
# are tiny, so every stage join broadcasts.
@query(
    "funnel_conversion_events",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM v
    UNION ALL
    SELECT 'click' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM c
    UNION ALL
    SELECT 'purchase' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM p
    """,
)
def funnel_conversion_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("users")).select(F.lit("view").alias("stage"), "users")
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("users")).select(F.lit("click").alias("stage"), "users")
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("users")).select(
                F.lit("purchase").alias("stage"), "users"
            )
        )
    )


# Cohort retention matrix: users grouped by first-seen week, counted
# per later activity week — the other canonical product-analytics
# shape.  Both week columns are date_trunc('week'), so the day delta
# is always a multiple of 7 and the float division is exact.
@query(
    "cohort_retention_events",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT CAST(CAST(f.cohort_week AS DATE) AS VARCHAR) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INTEGER) AS week_no,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select("user_id", F.date_trunc("week", "ts").alias("active_week")).distinct()
    return (
        activity.join(F.broadcast(first_seen), "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").cast("string").alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7).cast("int").alias("week_no"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# Small-file compaction planning (table maintenance at 100 TB): lay
# files out in a total order, two-phase global byte cumsum, merge
# group = floor(start/target) — whole files only, so a group overshoots
# by at most one file.  File inventory synthesized from orders.
@query(
    "compaction_plan_orders",
    """
    WITH files AS (
      SELECT o_orderkey AS file_id,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS size_bytes
      FROM orders
    ),
    cum AS (
      SELECT file_id, size_bytes,
             SUM(size_bytes) OVER (ORDER BY file_id ROWS UNBOUNDED PRECEDING) AS e
      FROM files WHERE size_bytes > 0
    )
    SELECT file_id, size_bytes,
           CAST(floor((e - size_bytes) / 5000000) AS BIGINT) AS bin_id,
           CAST(e - size_bytes AS BIGINT) AS bin_start_offset
    FROM cum
    """,
)
def compaction_plan_orders(spark, sf_dir):
    from ..operators.packing import plan_compaction

    files = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("file_id"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("size_bytes"),
    )
    return plan_compaction(files, "file_id", "size_bytes", 5_000_000)


# Directed n-gram containment for candidate pairs — the asymmetric
# complement to ngram_jaccard: a short document copied whole into a
# long one has low Jaccard but containment_a ≈ 1.  Same
# candidate-bounded plan; the variant docs contain every base shingle
# so the signal is non-trivial in both directions.
@query(
    "ngram_containment_pairs",
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
           round(COALESCE(n_inter, 0) / CAST(sa.n_sh AS DOUBLE), 6) AS containment_a,
           round(COALESCE(n_inter, 0) / CAST(sb.n_sh AS DOUBLE), 6) AS containment_b
    FROM pairs p
    LEFT JOIN inter USING (doc_a, doc_b)
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    """,
)
def ngram_containment_pairs(spark, sf_dir):
    from ..operators.dedup import ngram_containment

    corpus = _minhash_corpus(spark, sf_dir)
    pairs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 1000000).alias("doc_b"),
        )
    )
    return ngram_containment(corpus, pairs, "doc_id", "text")


# Exact-k per-stratum deterministic sample (eval sets / per-class
# caps): rank by md5(id) within the stratum, keep rank <= k.  The row
# SET is engine-portable (hash ranking, no rand()).
@query(
    "stratified_topk_docs",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 40
    """,
)
def stratified_topk_docs(spark, sf_dir):
    from ..operators.sampling import stratified_topk_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_topk_sample(d, "doc_id", "lang", 40).select("doc_id", "lang")


# Approximate k-NN graph over the whole embedding corpus (every
# vector a query) — the SemDeDup / graph-clustering substrate.  The
# oracle replays bucket assignment with the same inlined hyperplane
# weights as ann_lsh_bucketed.
def _knn_buckets_sql(n_planes: int, n_tables: int, dims: int = 64) -> str:
    """UNION-ALL bucket-assignment SQL over a ``vecs(vec_id, v)`` CTE,
    with the same inlined md5-parity hyperplane weights the Spark side
    derives — shared by the k-NN graph and semantic-dedup oracles."""
    from ..operators.similarity import _plane_weights

    def sig(t: int) -> str:
        cases = []
        for p in range(n_planes):
            w = "[" + ", ".join(str(x) for x in _plane_weights(t * 1000 + p, dims)) + "]"
            cases.append(
                f"CASE WHEN list_dot_product(v, {w}) >= 0 THEN '1' ELSE '0' END"
            )
        return "concat(" + ", ".join(cases) + ")"

    return "\n      UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {sig(t)} AS bucket FROM vecs"
        for t in range(n_tables)
    )


def _knn_graph_oracle(n_planes: int = 6, n_tables: int = 4, dims: int = 64, k: int = 5) -> str:
    return f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
      {_knn_buckets_sql(n_planes, n_tables, dims)}
    ),
    scored AS (
      SELECT DISTINCT a.vec_id AS src, z.vec_id AS dst,
             round(list_dot_product(a.v, z.v), 6) AS score
      FROM b a JOIN b z ON a.tbl = z.tbl AND a.bucket = z.bucket
                        AND a.vec_id <> z.vec_id
    )
    SELECT src, dst, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY src
                                   ORDER BY score DESC, dst) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("knn_graph_embeddings", _knn_graph_oracle())
def knn_graph_embeddings(spark, sf_dir):
    from ..operators.similarity import knn_graph

    e = _t(spark, sf_dir, "embeddings")
    out = knn_graph(e, k=5, n_planes=6, n_tables=4)
    return out.select("src", "dst", "score", F.col("rank").cast("int").alias("rank"))


# SemDeDup end-product: embedding-space near-duplicate removal — k-NN
# graph → cosine-threshold edges → connected components → keep the
# min-id canonical per cluster.  The synthetic corpus plants an exact
# copy of every 20th vector (the corpus vectors are random, so only
# planted copies cross the 0.999 threshold; a real corpus would use a
# lower τ).  Every stage is the bucket-bounded distributed machinery:
# no N² step anywhere.
def _semantic_dedup_oracle(n_planes: int = 6, n_tables: int = 4) -> str:
    return f"""
    WITH RECURSIVE vecs AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, label, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 20 = 0
    ),
    b AS (
      {_knn_buckets_sql(n_planes, n_tables)}
    ),
    scored AS (
      SELECT DISTINCT a.vec_id AS src, z.vec_id AS dst,
             round(list_dot_product(a.v, z.v), 6) AS score
      FROM b a JOIN b z ON a.tbl = z.tbl AND a.bucket = z.bucket
                        AND a.vec_id <> z.vec_id
    ),
    pairs AS (
      SELECT src AS s, dst AS d FROM scored WHERE score >= 0.999 AND src < dst
    ),
    edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
    reach(n, m) AS (
      SELECT s, s FROM edges
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    ),
    losers AS (
      SELECT n AS node FROM reach GROUP BY n HAVING n <> MIN(m)
    )
    SELECT vec_id, label FROM vecs
    WHERE vec_id NOT IN (SELECT node FROM losers)
    """


@query("semantic_dedup_keep", _semantic_dedup_oracle())
def semantic_dedup_keep(spark, sf_dir):
    from ..operators.dedup import connected_components
    from ..operators.similarity import knn_graph

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    planted = e.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    corpus = e.unionByName(planted)
    g = knn_graph(corpus, k=3, n_planes=6, n_tables=4)
    # only planted exact copies reach 0.999 (random vectors top out
    # ~0.45), and an exact copy is always rank 1 — so the k-cut can't
    # drop a qualifying edge
    pairs = g.filter((F.col("score") >= 0.999) & (F.col("src") < F.col("dst"))).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    clusters = connected_components(pairs)
    losers = clusters.filter(F.col("node") != F.col("cluster")).select("node")
    return corpus.join(
        F.broadcast(losers), corpus.vec_id == F.col("node"), "left_anti"
    ).select("vec_id", "label")


# BPE tokenizer-training support: the distributed merge-candidate
# counting step — adjacent character pairs weighted by word frequency.
# After the word-frequency aggregate the working set is the
# Zipf-small vocabulary, so the pair explode is vocabulary-sized.
@query(
    "bpe_pair_counts_docs",
    """
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
    pairs AS (
      SELECT substr(w, CAST(g.i AS INTEGER), 2) AS pair, c
      FROM wc, LATERAL (
        SELECT unnest(generate_series(1, CAST(len(w) - 1 AS BIGINT))) AS i
      ) g
      WHERE len(w) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt FROM pairs GROUP BY pair
    """,
)
def bpe_pair_counts_docs(spark, sf_dir):
    from ..operators.text import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"))


def _bpe_round_sql(i: int, prev: str) -> str:
    """One unrolled BPE merge round as SQL CTEs (the DuckDB twin of a
    ``bpe_train_symbols`` iteration): count adjacent unequal pairs
    weighted by word frequency, pick the (cnt DESC, a, b) argmax, mark
    start positions, drop consumed tails."""
    return f"""
    cand{i} AS (
      SELECT a, b, CAST(SUM(c) AS BIGINT) AS cnt FROM (
        SELECT sym AS a, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS b, c
        FROM {prev}
      ) WHERE b IS NOT NULL AND a <> b GROUP BY a, b
    ),
    top{i} AS (SELECT a, b FROM cand{i} ORDER BY cnt DESC, a, b LIMIT 1),
    mk{i} AS (
      -- LEFT JOIN ON TRUE, not CROSS JOIN: an empty top{i} (no
      -- unequal pair left) must mark nothing, not wipe the table
      SELECT s.w, s.c, s.pos, s.sym, t.b AS tb,
             (s.sym = t.a AND lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) = t.b) AS is_start
      FROM {prev} s LEFT JOIN top{i} t ON TRUE
    ),
    s{i} AS (
      SELECT w, c, pos,
             CASE WHEN is_start THEN sym || tb ELSE sym END AS sym
      FROM (
        SELECT *, COALESCE(lag(is_start) OVER (PARTITION BY w ORDER BY pos), FALSE) AS is_tail
        FROM mk{i}
      ) WHERE NOT is_tail
    )"""


# Iterative BPE tokenizer training — two full count→argmax→merge
# rounds (operators/text.bpe_train_symbols), not just the candidate
# count.  The corpus collapses to the word-frequency table up front;
# every round after is vocabulary-sized windows + aggregates, the
# shape that lets tokenizer training run IN the data engine at 100 TB
# instead of streaming the corpus to a driver-side trainer.  Only
# unequal pairs are merge candidates (self-overlapping equal pairs
# need sequential semantics neither engine's windows express — and
# real BPE rounds on natural text virtually never pick 'aa' first).
# Output: the post-merge symbol inventory; merged symbols appearing
# with correct corpus counts validates selection AND rewrite.
@query(
    "bpe_train_merges_docs",
    f"""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
    s0 AS (
      SELECT w, c, CAST(g.i AS INTEGER) AS pos,
             substr(w, CAST(g.i AS INTEGER), 1) AS sym
      FROM wc, LATERAL (
        SELECT unnest(generate_series(1, CAST(len(w) AS BIGINT))) AS i
      ) g
      WHERE len(w) >= 1
    ),
    {_bpe_round_sql(1, "s0")},
    {_bpe_round_sql(2, "s1")}
    SELECT sym AS symbol, CAST(SUM(c) AS BIGINT) AS cnt
    FROM s2 GROUP BY sym
    ORDER BY cnt DESC, symbol LIMIT 40
    """,
)
def bpe_train_merges_docs(spark, sf_dir):
    from ..operators.text import bpe_train_symbols

    out = bpe_train_symbols(_t(spark, sf_dir, "documents"), merges=2)
    return out.orderBy(F.desc("cnt"), F.asc("symbol")).limit(40)


# Unpivot (wide → long): stack() — the inverse of pivot.
@query(
    "unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, measure,
           CAST(ROUND(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS value
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem)
    UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice))
    """,
)
def unpivot_measures(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(2, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice) AS (measure, value)",
    ).select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        F.round(_dec("value"), 2).cast("double").alias("value"),
    )


# Deterministic hash sampling + train/test split (reproducible dataset
# curation — membership is a pure function of the row id).
@query(
    "deterministic_sample_split",
    """
    WITH b AS (
      SELECT doc_id,
             CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'valid'
                ELSE 'test' END AS split,
           COUNT(*) AS n,
           MIN(doc_id) AS min_doc
    FROM b GROUP BY 1
    """,
)
def deterministic_sample_split(spark, sf_dir):
    from ..operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    splits = hash_split(d, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1})
    tagged = None
    for name, df in splits.items():
        part = df.select(F.lit(name).alias("split"), "doc_id")
        tagged = part if tagged is None else tagged.unionByName(part)
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc")
    )


# Leakage-safe (group-preserving) train/valid/test split — the
# assignment unit is the USER, not the event: hashing rows
# independently puts one user's history on both sides of the split and
# leaks target information across it (the classic eval-inflation bug).
# Split membership is the same engine-portable md5-bucket arithmetic
# as deterministic_sample_split, applied to the group key; the audit
# column counts users observed in >1 split (0 by construction HERE,
# but the audit is the production artifact — splits usually arrive
# from an upstream table where drift can violate it).  One hash
# aggregate on user + one on split + a 1-row audit broadcast.
@query(
    "leakage_safe_split_events",
    """
    WITH u AS (
      SELECT user_id,
             CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    ),
    tagged AS (
      SELECT user_id, n_events,
             CASE WHEN bucket < 8000 THEN 'train'
                  WHEN bucket < 9000 THEN 'valid'
                  ELSE 'test' END AS split
      FROM u
    ),
    audit AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaked_users
      FROM (SELECT user_id, COUNT(DISTINCT split) AS n_splits FROM tagged GROUP BY user_id)
    )
    SELECT split, CAST(SUM(n_events) AS BIGINT) AS n_events,
           COUNT(*) AS n_users,
           (SELECT leaked_users FROM audit) AS leaked_users
    FROM tagged GROUP BY split
    """,
)
def leakage_safe_split_events(spark, sf_dir):
    from ..operators.sampling import hash_bucket

    e = _events(spark, sf_dir)
    u = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    bucket = hash_bucket(F.col("user_id"))
    tagged = u.select(
        "user_id",
        "n_events",
        F.when(bucket < 8000, F.lit("train"))
        .when(bucket < 9000, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    audit = (
        tagged.groupBy("user_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .agg(
            F.coalesce(
                F.sum((F.col("n_splits") > 1).cast("int")), F.lit(0)
            )
            .cast("bigint")
            .alias("leaked_users")
        )
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .crossJoin(F.broadcast(audit))
    )


# CUBE grouping sets (all 4 combinations).
@query(
    "cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


# Exact interpolated percentiles (continuous quantiles).
@query(
    "exact_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def exact_percentiles(spark, sf_dir):
    # Two-phase rank formulation (operators/percentile.py): F.percentile
    # buffers every group value in one aggregate buffer — an OOM at
    # 100 TB.  The rank rewrite keeps peak memory at one range
    # partition and reproduces Percentile.getPercentile's interpolation
    # arithmetic bit-for-bit.
    from ..operators.percentile import exact_percentiles_grouped

    li = _t(spark, sf_dir, "lineitem")
    pc = exact_percentiles_grouped(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.9], ["p50", "p90"]
    )
    return pc.select(
        "l_returnflag",
        F.round(F.col("p50"), 4).alias("p50"),
        F.round(F.col("p90"), 4).alias("p90"),
    )


# INTERSECT / EXCEPT (absent from the reference — SURVEY §2.7 notes —
# but part of a complete set-operation surface).
@query(
    "intersect_except_sets",
    """
    WITH big_spenders AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000
    ),
    urgent AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM big_spenders INTERSECT SELECT * FROM urgent)
    UNION ALL
    SELECT 'only_big' AS tag, o_custkey FROM (SELECT * FROM big_spenders EXCEPT SELECT * FROM urgent)
    """,
)
def intersect_except_sets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 150000).select("o_custkey").distinct()
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    both = big.intersect(urgent).select(F.lit("both").alias("tag"), "o_custkey")
    only_big = big.exceptAll(urgent).select(F.lit("only_big").alias("tag"), "o_custkey")
    return both.unionByName(only_big)


# Correlated aggregate subquery (TPC-H Q17 shape): per-group average
# joined back as a per-row threshold — the decorrelated groupBy+join
# rewrite of `WHERE x < (SELECT avg(x) ... correlated)`.
@query(
    "correlated_agg_threshold",
    """
    WITH part_avg AS (
      SELECT l_partkey, AVG(CAST(l_quantity AS DECIMAL(18,4))) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey,
           COUNT(*) AS n_below,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS below_revenue
    FROM lineitem l
    JOIN part_avg pa ON l.l_partkey = pa.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,4)) < 0.5 * pa.avg_qty
    GROUP BY l.l_partkey
    """,
)
def correlated_agg_threshold(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(F.avg(_dec("l_quantity")).alias("avg_qty"))
    l = li.alias("l")
    return (
        l.join(part_avg.alias("pa"), "l_partkey")
        .filter(_dec("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_below"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("below_revenue"),
        )
    )
