"""2-D Pareto frontier (skyline) — "no other row is at least as good
on both axes and strictly better on one".

The classic formulations both die at scale: the NOT EXISTS dominance
join is O(N²) (it is the ORACLE here, run only at sf0.01), and the
textbook single-window rewrite (running max over cost order) pulls
every row through ONE task — the same straggler as the reference's
un-partitioned ``row_number`` (``mart/rating_slide.sql:7``).

Scalable shape used here (sort-based skyline, cf. the SFS algorithm of
Chomicki et al., ICDE'03):

1. collapse to one row per distinct cost (groupBy → per-cost max gain)
   — dominance within a cost tier only depends on the tier max;
2. STRICT-prefix running max of tier maxes over cost ascending, as a
   two-phase pass (range partition → local cummax → broadcast
   per-partition prefix maxes), the max-twin of
   ``packing.global_cumsum``;
3. broadcast the tier table back onto the input: a row survives iff no
   strictly-cheaper tier reaches its gain (``strict_prev < gain``) and
   no equal-cost row strictly beats it (``tier_max == gain``).

Equal (cost, gain) duplicates dominate neither each other nor
anything else extra — both survive, matching the oracle's strict
dominance definition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize


def strict_prefix_max(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "prev_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach max(value) over all rows STRICTLY before each row in the
    total order defined by ``order_cols`` (NULL for the first row).
    Two-phase: no single-task global window.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # materialized: one range-exchange execution for both branches
    # (see rank.global_prefix)
    parted = materialize(df.repartitionByRange(n, *order_cols), "strict_prefix_max")
    pid = F.spark_partition_id()
    w = Window.partitionBy(pid).orderBy(*order_cols)
    local = parted.withColumn("__pid", pid).withColumn(
        "__local_prev",
        F.max(value_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    offsets = (
        local.groupBy("__pid")
        .agg(F.max(value_col).alias("__pmax"))
        .withColumn(
            "__offset",
            F.max("__pmax").over(
                Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("__pid", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.greatest(F.col("__local_prev"), F.col("__offset")))
        .withColumn(
            out_col, F.coalesce(F.col(out_col), F.col("__local_prev"), F.col("__offset"))
        )
        .drop("__pid", "__local_prev", "__offset")
    )


def pareto_frontier_2d(df: DataFrame, cost_col: str, gain_col: str) -> DataFrame:
    """Rows not dominated under (minimize ``cost_col``, maximize
    ``gain_col``).  Input columns pass through unchanged.  The tier
    table broadcasts onto the probe side, so the caller's distinct-cost
    cardinality must be dimension-sized.
    """
    tiers = df.groupBy(cost_col).agg(F.max(gain_col).alias("__tier_max"))
    tiers = strict_prefix_max(
        tiers, [F.col(cost_col).asc()], "__tier_max", out_col="__prev_max"
    )
    survivors = (
        df.join(F.broadcast(tiers), cost_col)
        .filter(
            (F.col("__prev_max").isNull() | (F.col("__prev_max") < F.col(gain_col)))
            & (F.col("__tier_max") == F.col(gain_col))
        )
        .drop("__tier_max", "__prev_max")
    )
    return survivors
