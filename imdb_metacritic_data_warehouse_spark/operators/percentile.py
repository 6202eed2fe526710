"""Exact interpolated percentiles without a buffer-everything aggregate.

``F.percentile`` (like PG ``percentile_cont``) is an
OpenHashMap-buffering aggregate: every value of the group is held in
one executor's memory before the quantile is read off — fine at sf0.1,
an OOM at 100 TB.  ``percentile_approx`` is the sketch-based scale
path; when EXACT quantiles are the contract, the scalable plan is the
two-phase rank formulation (same machinery as
``operators/rank.global_row_number`` / ``packing.global_cumsum``):

1. range-repartition on (keys…, value) — sampling-based, skew-aware;
2. rank locally per (partition, key); per-(key, partition) counts are
   a tiny table (``n_partitions × n_keys`` rows) whose per-key prefix
   sum broadcasts back — global per-key ranks with no single task ever
   holding a whole group;
3. per-key row counts (broadcast) turn each requested fraction into
   the two bounding ranks; only those O(keys × fracs) rows survive the
   final aggregate, which interpolates with EXACTLY Spark's
   ``Percentile.getPercentile`` arithmetic
   (``(higher - pos) * lower_val + (pos - lower) * higher_val``) so
   results are bit-identical to the buffering aggregate it replaces.

No value is ever buffered per-group; peak memory is one range
partition, which AQE/`repartitionByRange` sizes independently of group
cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize


def _null_safe_join(left: DataFrame, right: DataFrame, on_keys: list[str]) -> DataFrame:
    """Inner join of ``left`` with a broadcast ``right`` on ``on_keys``,
    NULL-SAFE: groupBy treats NULL as a group (so F.percentile emits a
    row for it), and a plain equi-join back to the data would silently
    drop that whole group."""
    rsel = right.select(
        *[F.col(c).alias(f"__r_{c}") for c in on_keys],
        *[c for c in right.columns if c not in on_keys],
    )
    cond = F.lit(True)
    for c in on_keys:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__r_{c}"))
    return left.join(F.broadcast(rsel), cond).drop(*[f"__r_{c}" for c in on_keys])


def exact_percentiles_grouped(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    fracs: list[float],
    out_names: list[str] | None = None,
) -> DataFrame:
    """Exact interpolated percentiles of ``value_col`` per ``keys``
    group, one output column per fraction (NULLs excluded, like
    ``percentile_cont``).  Output: keys… + out_names… (double)."""
    out_names = out_names or [f"p{int(f * 100)}" for f in fracs]
    assert len(out_names) == len(fracs)
    keys = list(keys)  # [] = one global group (a keyless total percentile)
    n_parts = df.sparkSession.sparkContext.defaultParallelism

    v = F.col(value_col).cast("double")
    # materialized: every branch (local ranks, offsets, counts, ranked)
    # must see ONE execution of the sampled range exchange — see
    # rank.global_prefix
    base = materialize(
        df.select(*keys, v.alias("__v"))
        .filter(F.col("__v").isNotNull())
        .repartitionByRange(n_parts, *[F.col(k) for k in keys], F.col("__v")),
        "exact_percentiles_grouped",
    )
    pid = F.spark_partition_id()
    local = base.withColumn("__pid", pid).withColumn(
        "__lrn",
        F.row_number().over(
            Window.partitionBy(pid, *keys).orderBy(F.col("__v").asc())
        ),
    )
    # (key, partition) counts → per-key prefix sum of earlier partitions
    # (tiny: n_partitions × n_keys rows), broadcast back for global ranks
    offsets = (
        local.groupBy("__pid", *keys)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__cnt").over(
                    Window.partitionBy(*keys)
                    .orderBy("__pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    counts = offsets.groupBy(*keys).agg(F.sum("__cnt").alias("__n"))

    ranked = _null_safe_join(
        local, offsets.select("__pid", *keys, "__off"), ["__pid", *keys]
    ).withColumn("__rn", (F.col("__lrn") + F.col("__off")).cast("long"))

    # bounding ranks per fraction (0-based position = frac * (n - 1));
    # keyless → counts is one row, broadcast as a scalar cross join
    with_n = (
        _null_safe_join(ranked, counts, keys)
        if keys
        else ranked.crossJoin(F.broadcast(counts))
    )
    aggs = []
    needed = F.lit(False)
    for f, name in zip(fracs, out_names):
        pos = F.lit(float(f)) * (F.col("__n") - 1).cast("double")
        lo = F.floor(pos).cast("long") + 1  # 1-based rank of lower index
        hi = F.ceil(pos).cast("long") + 1
        needed = needed | (F.col("__rn") == lo) | (F.col("__rn") == hi)
        lo_v = F.max(F.when(F.col("__rn") == lo, F.col("__v")))
        hi_v = F.max(F.when(F.col("__rn") == hi, F.col("__v")))
        lo_pos = F.max(F.when(F.col("__rn") == lo, pos))
        # Spark Percentile.getPercentile arithmetic, term for term:
        # lower == higher → the value itself; else
        # (higher - pos) * lowerValue + (pos - lower) * higherValue
        lower_idx = F.floor(lo_pos)
        higher_idx = F.ceil(lo_pos)
        interp = F.when(lower_idx == higher_idx, lo_v).otherwise(
            (higher_idx.cast("double") - lo_pos) * lo_v
            + (lo_pos - lower_idx.cast("double")) * hi_v
        )
        aggs.append(interp.alias(name))
    return with_n.filter(needed).groupBy(*keys).agg(*aggs)


def weighted_median_grouped(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    weight_col,
) -> DataFrame:
    """Lower weighted median of ``value_col`` per group: the smallest
    value whose cumulative weight reaches half the group total
    (2·cumw ≥ W) — quantity-weighted price medians, token-weighted
    quality cutoffs.

    Same no-buffering two-phase shape as exact_percentiles_grouped,
    with row counts replaced by weight sums: collapse to per-(key,
    value) weights first (shrinks duplicates), range-partition on
    (keys, value), per-(key, partition) local weight cumsum, broadcast
    per-key prefix offsets, then one aggregate picks the crossing
    value.  Weights must be non-negative integers (cast upstream).
    Output: keys… + total_weight + weighted_median.
    """
    keys = list(keys)
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    v = F.col(value_col).cast("double")
    wt = (weight_col if not isinstance(weight_col, str) else F.col(weight_col)).cast(
        "long"
    )
    # one pinned execution for every branch — see exact_percentiles
    base = materialize(
        df.select(*keys, v.alias("__v"), wt.alias("__wt"))
        .filter(F.col("__v").isNotNull())
        .groupBy(*keys, "__v")
        .agg(F.sum("__wt").alias("__wt"))
        .repartitionByRange(n_parts, *[F.col(k) for k in keys], F.col("__v")),
        "weighted_median_grouped",
    )
    pid = F.spark_partition_id()
    local = base.withColumn("__pid", pid).withColumn(
        "__lcw",
        F.sum("__wt").over(
            Window.partitionBy(pid, *keys)
            .orderBy(F.col("__v").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    offsets = (
        local.groupBy("__pid", *keys)
        .agg(F.sum("__wt").alias("__pw"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__pw").over(
                    Window.partitionBy(*keys)
                    .orderBy("__pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    totals = offsets.groupBy(*keys).agg(F.sum("__pw").alias("__W"))
    joined = _null_safe_join(
        _null_safe_join(local, offsets.select("__pid", *keys, "__off"), ["__pid", *keys]),
        totals,
        keys,
    ).withColumn("__cw", F.col("__lcw") + F.col("__off"))
    return (
        joined.filter(F.lit(2) * F.col("__cw") >= F.col("__W"))
        .groupBy(*keys, "__W")
        .agg(F.min("__v").alias("weighted_median"))
        .select(
            *keys,
            F.col("__W").cast("bigint").alias("total_weight"),
            "weighted_median",
        )
    )
