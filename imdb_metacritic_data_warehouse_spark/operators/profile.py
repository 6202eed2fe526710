"""Data profiling — per-column statistics and histograms.

The warehouse-operations pass every ingest needs (drift detection,
bucket sizing, quality dashboards).  Scale shape:

- ``profile_numeric``: ONE scan computes every column's aggregates
  simultaneously (a union-per-column formulation would rescan the
  table N times — Catalyst has no cross-branch CSE, NOTES.md); the
  single wide result row is then unpivoted driver-cheaply with
  ``stack``.  Multiple count-distincts expand map-side (Spark's
  Expand), still one pass over the data.
- ``fixed_histogram``: min/max via a broadcast 1-row aggregate (the J9
  scalar-subquery pattern), then bucket = ``floor((x−lo)/step)`` —
  pure arithmetic, one groupBy(bucket) shuffle of at most ``bins``
  partial rows per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize


def profile_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format numeric profile: one row per column with
    (n, n_nonnull, n_distinct, min, max, avg) — a single table scan."""
    aggs = []
    for c in cols:
        x = F.col(c).cast("double")
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.count(x).alias(f"__nn_{c}"),
            F.countDistinct(x).alias(f"__nd_{c}"),
            F.round(F.min(x), 6).alias(f"__mn_{c}"),
            F.round(F.max(x), 6).alias(f"__mx_{c}"),
            F.round(F.avg(x), 6).alias(f"__av_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}, __av_{c}"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col, n, n_nonnull, n_distinct, min_v, max_v, avg_v)"
        )
    )


def fixed_histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Equi-width histogram over ``col``: (bucket, n), bucket ∈ [0, bins).
    The max value folds into the last bucket."""
    x = F.col(col).cast("double")
    mm = df.agg(F.min(x).alias("lo"), F.max(x).alias("hi"))
    bucket = F.least(
        F.floor((x - F.col("lo")) / ((F.col("hi") - F.col("lo")) / bins)).cast("int"),
        F.lit(bins - 1),
    )
    return (
        df.select(x.alias(col))
        .crossJoin(F.broadcast(mm))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def run_length_stats_multi(
    df: DataFrame,
    order_cols: list,
    value_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Run statistics of each of ``value_cols`` under the table's
    storage order (``order_cols``) — the RLE-encodability signal a
    storage advisor needs: ``runs`` = number of maximal constant
    stretches, ``n`` = rows, avg run length = n/runs.  Returns one row
    per column: (col_name, n, runs).

    The naive formulation is ``lag() over (ORDER BY …)`` — a global
    unpartitioned window, the repo's forbidden single-task shape.
    Two-phase instead, every column in ONE pass: range-partition on the
    order (materialized — one pinned execution, see rank.global_prefix),
    count each column's value CHANGES inside each partition with one
    pid-local window, then add the partition-boundary changes by
    comparing each partition's FIRST value with its predecessor's LAST
    (a partitions-sized table, driver-free broadcast self-join).  runs =
    internal changes + boundary changes + 1.  NULL-safe comparison
    throughout: NULL is a value, a NULL stretch is a run.  The advisor
    audits every column of a 100 TB table for the price of a single
    shuffle instead of |columns|.
    """
    from pyspark.sql import Window

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = materialize(df.repartitionByRange(n, *order_cols), "run_length_stats_multi")
    pid = F.spark_partition_id()
    w = Window.partitionBy(pid).orderBy(*order_cols)
    local = parted.withColumn("__pid", pid).withColumn("__rn", F.row_number().over(w))
    for c in value_cols:
        local = local.withColumn(
            f"__chg_{c}",
            F.when(F.col("__rn") == 1, F.lit(0)).otherwise(
                (~F.col(c).eqNullSafe(F.lag(c).over(w))).cast("int")
            ),
        )
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in value_cols:
        aggs += [
            F.sum(f"__chg_{c}").alias(f"__internal_{c}"),
            F.min_by(F.col(c), F.col("__rn")).alias(f"__first_{c}"),
            F.max_by(F.col(c), F.col("__rn")).alias(f"__last_{c}"),
        ]
    per_pid = local.groupBy("__pid").agg(*aggs)
    # adjacency over NON-EMPTY partitions only: dense-sequence them
    # first (per_pid is partitions-sized, so this unpartitioned window
    # is bounded by construction), else an interior empty range
    # partition would silently skip a boundary comparison
    seq_w = Window.orderBy("__pid")
    per_pid = per_pid.withColumn("__seq", F.row_number().over(seq_w))
    nxt = per_pid.select(
        (F.col("__seq") - 1).alias("__prev_seq"),
        *[F.col(f"__first_{c}").alias(f"__next_first_{c}") for c in value_cols],
    )
    joined = per_pid.join(
        F.broadcast(nxt), per_pid["__seq"] == nxt["__prev_seq"], "left"
    )
    # a boundary exists where a next partition does (a NULL first value
    # is still a value); the last partition's join finds none
    outs = []
    for c in value_cols:
        bchg = (
            F.when(
                F.col("__prev_seq").isNotNull()
                & ~F.col(f"__last_{c}").eqNullSafe(F.col(f"__next_first_{c}")),
                1,
            )
            .otherwise(0)
            .alias("__bchg")
        )
        outs.append(
            joined.select("__rows", F.col(f"__internal_{c}").alias("__internal"), bchg)
            .agg(
                F.lit(c).alias("col_name"),
                F.sum("__rows").cast("bigint").alias("n"),
                (F.sum("__internal") + F.sum("__bchg") + 1)
                .cast("bigint")
                .alias("runs"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
