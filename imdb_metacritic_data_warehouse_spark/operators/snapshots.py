"""Snapshot filters (P6–P8, SURVEY.md §2.2).

The marts select "current" rows via scalar subqueries —
``valid_to IN (SELECT max(valid_to) ...)`` (``mart/movie_data.sql:14``)
and latest / two-latest ``valid_from`` snapshots
(``mart/rating_slide.sql:10,23``).

Spark: a 1-row aggregate cross-joined (broadcast — it's one row) keeps
the whole thing declarative: no driver collect, no action, and Catalyst
executes the subquery once and broadcasts the scalar, exactly what PG
does with an uncorrelated scalar subquery.  ``filter_top_snapshots``
generalizes P8: the distinct snapshot values are one-per-batch (tiny),
ranked and semi-joined back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TOP_SNAPSHOTS = 2  # filter_top_snapshots keeps the two latest loads


def filter_latest(df: DataFrame, col: str) -> DataFrame:
    """``WHERE col IN (SELECT max(col) FROM df)`` — P6/P7."""
    mx = df.agg(F.max(col).alias("__mx"))
    return df.join(F.broadcast(mx), F.col(col) == F.col("__mx"), "inner").drop("__mx")


def filter_top_snapshots(df: DataFrame, col: str) -> DataFrame:
    """Keep rows whose ``col`` is among the ``_TOP_SNAPSHOTS`` largest
    distinct values — P8 (``mart/rating_slide.sql:23`` uses k=2 via nested
    max-subqueries).  Distinct snapshot values (one per load batch) are
    ranked with a window over the *deduplicated* set, so the
    single-partition sort touches only #batches rows, then broadcast
    semi-joined back — scales regardless of table size."""
    snaps = (
        df.select(col)
        .distinct()
        .withColumn("__rk", F.dense_rank().over(Window.orderBy(F.desc(col))))
        .filter(F.col("__rk") <= _TOP_SNAPSHOTS)
        .drop("__rk")
    )
    return df.join(F.broadcast(snaps), on=col, how="left_semi")


def pit_join(
    probes: DataFrame,
    hist: DataFrame,
    key: str,
    ts_col: str,
    how: str = "inner",
) -> DataFrame:
    """Point-in-time lookup against an SCD2-historized table: for each
    probe row, the version whose validity interval covers the probe
    timestamp (``valid_from <= ts < valid_to`` — half-open, matching
    scd2_apply's close-out where a changed row's valid_to equals the
    successor's valid_from).

    Plan shape: a plain EQUI-join on the key with the interval
    predicate as a residual filter condition — Catalyst plans a hash /
    sort-merge join on the key (broadcast if the probe side is small),
    and the non-overlap invariant (tests/test_scd2.py) guarantees at
    most one surviving version per (probe, key), so the join never
    amplifies.  This is the "as of time T" read every Data Vault
    consumer runs against history; ``filter_latest`` is the special
    case T = now.
    """
    p = probes.alias("p")
    h = hist.alias("h")
    cond = (
        (F.col(f"p.{key}") == F.col(f"h.{key}"))
        & (F.col("h.valid_from") <= F.col(f"p.{ts_col}"))
        & (F.col(f"p.{ts_col}") < F.col("h.valid_to"))
    )
    hist_cols = [
        F.col(f"h.{c}").alias(c) for c in hist.columns if c != key
    ]
    return p.join(h, cond, how).select("p.*", *hist_cols)


def bitemporal_snapshot(
    records: DataFrame,
    tx_at,
    valid_at: str,
) -> DataFrame:
    """Bitemporal point query: rows believed true at transaction time
    ``tx_at`` AND valid at ``valid_at`` — the two-axis time travel that
    separates "the data changed" (valid time) from "we corrected the
    record" (transaction time).  Both axes use half-open-interval
    semantics [from, to); NULL ``tx_to`` means the current belief and
    NULL ``valid_to`` an open-ended validity (both common in bitemporal
    data — ADVICE r5: the old predicate silently dropped NULL-valid_to
    rows because SQL NULL comparisons filter).

    Plan shape: one predicate scan, no join — both interval bounds are
    plain columns, so the valid-time predicate is pushdown-eligible
    and partition-prunable on ``valid_from`` when the table is
    date-partitioned (SCALE.md discipline)."""
    return records.filter(
        (F.col("tx_from") <= F.lit(tx_at))
        & (F.col("tx_to").isNull() | (F.col("tx_to") > F.lit(tx_at)))
        & (F.col("valid_from") <= F.lit(valid_at).cast("date"))
        & (
            F.col("valid_to").isNull()
            | (F.col("valid_to") > F.lit(valid_at).cast("date"))
        )
    )
