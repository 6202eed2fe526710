"""Global ranking (W1) — scalable replacement for the reference's
un-partitioned ``row_number() over (order by ...)``
(``mart/rating_slide.sql:7,20``).

A bare ``Window.orderBy`` pulls every row through ONE task — fine at
the reference's ~5k movies, a straggler at 100 TB.
``global_row_number`` is the two-phase version:

1. range-repartition on the sort keys (sampling-based, skew-resistant —
   the same machinery as a global ``orderBy``);
2. rank locally per partition;
3. add the broadcast prefix-sum of partition counts.

One extra narrow pass over the data (the count aggregation) buys
unbounded parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "rn",
) -> DataFrame:
    """Attach a 1-based global row number under a total order.

    ``order_cols`` must define a deterministic order (add a tiebreaker
    column if the prefix is non-unique — otherwise, like the
    reference's SQL, ties get an arbitrary stable-only-per-plan order).
    """
    return global_prefix(df, order_cols, [], out_col)


def global_prefix(
    df: DataFrame,
    order_cols: list[Column],
    value_cols: list[str],
    rn_col: str | None = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Row number + inclusive prefix sums of several columns under ONE
    total order through ONE range exchange (``global_row_number`` and
    ``packing.global_cumsum`` are its one-output cases — ECDF-style
    consumers need rank AND two cumulative counts, and three separate
    two-phase passes would shuffle the same frame three times).

    Prefix sums come back as ``cum_<value_col>`` (long).  The local and
    offsets branches must see ONE execution of the sampled range
    exchange (identical partition bounds): ``repartitionByRange``
    samples its bounds with an RDD-id-derived seed, so two executions
    can disagree about which partition a boundary row lands in.  The
    range-partitioned input is pinned with ``materialize`` (its module
    docstring has the checkpoint-not-cache rule).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = materialize(df.repartitionByRange(n, *order_cols), "global_prefix")
    # __pid must be STAMPED as a column once, and every window spec must
    # reference the COLUMN: with several WindowExec nodes in one chain, a
    # raw spark_partition_id() inside the second window's partitionBy is
    # re-evaluated AFTER the first window's exchange re-laid rows out —
    # local sums then group by post-shuffle partition ids, silently
    # corrupting the prefix (caught by wasserstein_drift's first oracle
    # run; the single-window primitives above never hit this).
    local = parted.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy(F.col("__pid"))
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if rn_col is not None:
        local = local.withColumn(
            "__local_rn",
            F.row_number().over(
                Window.partitionBy(F.col("__pid")).orderBy(*order_cols)
            ),
        )
    for v in value_cols:
        local = local.withColumn(f"__local_{v}", F.sum(v).over(w))
    aggs = [F.count(F.lit(1)).alias("__cnt")] + [
        F.sum(v).alias(f"__tot_{v}") for v in value_cols
    ]
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("__pid")
        .agg(*aggs)
        .select(
            "__pid",
            F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias("__off_rn"),
            *[
                F.coalesce(F.sum(f"__tot_{v}").over(woff), F.lit(0)).alias(
                    f"__off_{v}"
                )
                for v in value_cols
            ],
        )
    )
    out = local.join(F.broadcast(offsets), "__pid")
    if rn_col is not None:
        out = out.withColumn(
            rn_col, (F.col("__local_rn") + F.col("__off_rn")).cast("long")
        )
    for v in value_cols:
        out = out.withColumn(
            f"cum_{v}", (F.col(f"__local_{v}") + F.col(f"__off_{v}")).cast("long")
        )
    drop = ["__pid", "__off_rn"] + (
        ["__local_rn"] if rn_col is not None else []
    ) + [c for v in value_cols for c in (f"__local_{v}", f"__off_{v}")]
    return out.drop(*drop)


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    rec: Column,
    k: int,
) -> DataFrame:
    """The k SMALLEST ``rec`` structs per group — two-phase, so no
    group's full membership ever sorts through one task (the plain
    ``Window.partitionBy(group).orderBy(...)`` form sorts
    corpus/|groups| rows per partition; the r10 64× probe measured it
    at 15.4× on influence_selection).

    Phase 1 folds each input partition's local top-k per group inside
    a (spark_partition_id, group)-keyed aggregate — the group subset
    lives entirely in one map partition, so the partial aggregate
    collapses map-side and only ≤k structs per (partition, group)
    shuffle.  Phase 2 flattens the ≤ k·n_partitions candidates per
    group and re-slices.  Returns one row per group with a sorted
    ``__top`` array column; ``posexplode`` it for (rank-1, row) pairs.

    Order is the struct's natural field order — put the sort keys
    first (negate for descending) and payload fields after.
    """
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid", *group_cols)
        .agg(F.slice(F.sort_array(F.collect_list(rec)), 1, k).alias("__top"))
        .groupBy(*group_cols)
        .agg(
            F.slice(
                F.sort_array(F.flatten(F.collect_list("__top"))), 1, k
            ).alias("__top")
        )
    )
