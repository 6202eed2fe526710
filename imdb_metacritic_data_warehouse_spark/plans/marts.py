"""Mart-layer (gold) builders — ``mart/*.sql`` re-expressed Spark-first.

Reference quirks preserved vs deliberately dropped are noted per
builder; dead CTEs (``mart/genre_metrics.sql:1-4,29-49``) are simply
not reproduced — Catalyst would prune them anyway (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parsing import strip_parens
from .core import known_distinct
from ..operators.argmax import arg_max
from ..operators.rank import global_row_number
from ..operators.snapshots import filter_latest, filter_top_snapshots


def build_employee_data(wh) -> DataFrame:
    """``mart/employee_data.sql``: hub→link→sat chain, both SCD2 tables
    filtered to their open records via the max(valid_to) subquery (P6);
    ``'NaN'`` description → ``''``, else parens stripped (F8)."""
    eh = wh.read("stg", "employee_hub")
    mel = filter_latest(wh.read("stg", "movie_emp_link"), "valid_to")
    emls = filter_latest(wh.read("stg", "emp_movie_l_sat"), "valid_to")
    joined = (
        eh.join(mel, "emp_id", "inner")
        .join(emls, "movie_emp_link_id", "inner")
    )
    # by name: only the join keys and the SCD2 validity columns repeat
    # across the three tables, and none of those is selected
    out = joined.select(
        "movie_emp_role_id",
        F.col("emp_nm").alias("name"),
        "role",
        F.when(F.col("description") == "NaN", F.lit(""))
        .otherwise(strip_parens(F.col("description")))
        .alias("role_description"),
    )
    # Final dedup elidable under declared key uniqueness (see
    # plans/core.known_distinct): unique hub × one-open-version link ×
    # unique-role-id sat → every joined row carries a distinct
    # movie_emp_role_id, so DISTINCT is the identity and its
    # full-output shuffle can be skipped.
    if not (
        known_distinct(wh, ("stg", "employee_hub"), {"emp_id"})
        and known_distinct(wh, ("stg", "movie_emp_link"), {"movie_emp_link_id"})
        and known_distinct(wh, ("stg", "emp_movie_l_sat"), {"movie_emp_role_id"})
    ):
        out = out.distinct()
    return out


def build_movie_data(wh) -> DataFrame:
    """``mart/movie_data.sql``: current movie catalog — hub ⋈ open sat
    rows, NULL display attrs coalesced to ``''`` (rating deliberately
    not coalesced, matching the reference)."""
    mh = wh.read("stg", "movie_hub")
    mis = filter_latest(wh.read("stg", "movie_info_sat"), "valid_to")
    return mh.join(mis, "movie_id", "inner").select(
        mis.title_item_id,
        mh.movie_nm.alias("movie_name"),
        mh.movie_duration,
        F.coalesce(mis.original_name, F.lit("")).alias("original_name"),
        F.coalesce(mis.year, F.lit("")).alias("year"),
        mis.rating,
        F.coalesce(mis.budget, F.lit("")).alias("budget"),
        F.coalesce(mis.gross_worldwide, F.lit("")).alias("worldwide_gross"),
        mis.scr_nm.alias("rating_source"),
        mis.url,
    )


def build_movie_employee_link(wh) -> DataFrame:
    """``mart/movie_employee_link.sql``: denormalized who-worked-on-what.
    The reference joins the *full* SCD2 link table (no current-filter);
    DISTINCT collapses the version duplicates — preserved."""
    mh = wh.read("stg", "movie_hub")
    mel = wh.read("stg", "movie_emp_link")
    eh = wh.read("stg", "employee_hub")
    return (
        mh.join(mel, "movie_id", "inner")
        .join(eh, "emp_id", "inner")
        .select(
            mel.movie_emp_link_id,
            mh.movie_nm,
            mh.movie_duration,
            eh.emp_nm,
        )
        .distinct()
    )


def build_genre_metrics(wh) -> DataFrame:
    """``mart/genre_metrics.sql``: per-genre metrics + three argmax
    labels.  The correlated ``ORDER BY … LIMIT 1`` subqueries become a
    one-pass ``max_by`` (J8 rewrite, SURVEY.md §4.2); label =
    ``movie_nm||', '||movie_duration||' min'``.

    Preserved quirks: averages are computed over the FULL sat history
    (no current-filter) and the link table joins unfiltered, so movies
    with multiple link versions weight heavier — exactly the reference's
    arithmetic."""
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
        per_movie.join(mh, "movie_id", "inner")
        .join(mgl, "movie_id", "inner")
        .join(F.broadcast(gh), "genre_id", "inner")
    )
    label = F.concat(
        F.col("movie_nm"),
        F.lit(", "),
        F.col("movie_duration").cast("string"),
        F.lit(" min"),
    )
    return (
        t3.groupBy("genre_id", F.col("genre_nm").alias("genre"))
        .agg(
            arg_max(label, F.col("budget")).alias("max_budget_movie"),
            arg_max(label, F.col("gross_worldwide")).alias("max_gross_movie"),
            arg_max(label, F.col("rating")).alias("best_rated_movie"),
            F.avg("rating").alias("average_rating"),
            F.count("movie_id").alias("genre_movie_quant"),
        )
        .orderBy(F.desc("genre_movie_quant"))
    )


def _rating_snapshot(wh, snapshot_filter, with_rank: bool = True) -> DataFrame:
    """Shared shape of rating_slide's temp1/temp2: hub ⋈ sat (sat rows
    restricted by ``snapshot_filter`` on valid_from), avg rating per
    movie, global rank by (rating desc, duration desc).  The reference's
    ORDER BY leaves rating/duration ties in arbitrary heap order
    (``mart/rating_slide.sql:7``); we append movie_id as a final key so
    places are deterministic across runs — documented divergence.
    The rank key is the ROUND-4 rating, not the raw float average: the
    raw avg's low bits depend on summation order (engine- and
    partition-layout-dependent — the first sf0.1 sweep caught 1081
    place flips among display-equal ratings), while the reference's
    Postgres ``numeric`` avg is exact.  Ranking on the displayed
    4-decimal value with deterministic tie-breaks is the reproducible
    re-expression of that exactness.

    ``with_rank=False`` skips the global ranking: temp2's rank is
    computed-then-discarded in the reference (SURVEY.md §2.12), and only
    row membership survives the full outer join — at scale the discarded
    rank is a whole range-exchange + window we can elide."""
    mh = wh.read("stg", "movie_hub")
    mis = snapshot_filter(wh.read("stg", "movie_info_sat"))
    grouped = (
        mh.join(mis, "movie_id", "inner")
        .groupBy("movie_nm", "movie_duration", "movie_id")
        .agg(F.avg(F.col("rating").cast("double")).alias("rating"))
    )
    if not with_rank:
        return grouped
    return global_row_number(
        grouped,
        [
            F.desc(F.round(F.col("rating"), 4)),
            F.desc(F.col("movie_duration").cast("int")),
            F.asc("movie_id"),
        ],
        out_col="place",
    )


def build_rating_slide(wh) -> DataFrame:
    """``mart/rating_slide.sql``: leaderboard of the latest snapshot,
    full-outer-joined against the two-latest-snapshot set (J5).  temp2's
    rank is computed-then-discarded in the reference; its only effect —
    emitting NULL-attribute rows for movies absent from the latest
    snapshot — is preserved (SURVEY.md §2.12)."""
    t1 = _rating_snapshot(wh, lambda df: filter_latest(df, "valid_from")).alias("t1")
    t2 = (
        _rating_snapshot(
            wh,
            lambda df: filter_top_snapshots(df, "valid_from"),
            with_rank=False,
        )
        .select("movie_id")
        .alias("t2")
    )
    return (
        t1.join(t2, F.col("t1.movie_id") == F.col("t2.movie_id"), "full_outer")
        .select(
            F.coalesce(F.col("t1.movie_id"), F.col("t2.movie_id")).alias("movie_id"),
            F.col("t1.movie_nm").alias("movie_name"),
            F.col("t1.movie_duration").cast("int").alias("duration"),
            F.col("t1.rating").alias("current_rating"),
            F.col("t1.place").alias("current_place"),
        )
        .orderBy(F.asc_nulls_last("current_place"))
    )
