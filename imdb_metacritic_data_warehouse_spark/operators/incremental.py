"""Incremental mart maintenance — mergeable partial aggregates.

The reference rebuilds every mart from a full scan of the core layer on
each ELT run (``stg_checker`` materializes the whole script per batch,
``/root/reference/ddl.py:521,559-570``).  At reference scale that is
fine; at 100 TB a mart refresh must touch only the NEW rows.  This
module is the Spark-native answer: keep the mart as a *partial-state*
table whose columns are mergeable (sum / count / min / max — the same
decomposition Spark itself uses for partial aggregation before a
shuffle), fold each delta batch in with one groupBy over
``state ∪ partial(delta)``, and derive the non-mergeable outputs
(avg = sum/count) only at read time.

Cost per refresh: one scan of the DELTA + a shuffle keyed by the
(low-cardinality) mart key over |state| + |partial(delta)| rows —
independent of the accumulated fact history.  The equivalence
``merge(state(b1), delta(b2)) ≡ full_recompute(b1 ∪ b2)`` is the
correctness contract; the driver oracle checks it value-for-value
(``incremental_mart_merge``, entry_queries/q03).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# state-column spec: out_name -> (merge_fn_name, source expression)
#   merge fns are the self-mergeable trio; "sum" also merges counts.
_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def partial_state(df: DataFrame, keys: list[str], spec: dict[str, tuple[str, Column]]) -> DataFrame:
    """Aggregate a batch into mergeable partial state.

    ``spec`` maps state column name -> (merge_fn, expression), e.g.::

        {"sum_price": ("sum", F.col("o_totalprice").cast("decimal(18,4)")),
         "n_orders":  ("sum", F.lit(1)),
         "min_date":  ("min", F.col("o_orderdate"))}
    """
    aggs = [_MERGE_FNS[fn](expr).alias(name) for name, (fn, expr) in spec.items()]
    return df.groupBy(*keys).agg(*aggs)


def merge_state(state: DataFrame, delta_state: DataFrame, keys: list[str], spec: dict[str, tuple[str, Column]]) -> DataFrame:
    """Fold a delta's partial state into the accumulated state.

    One union + one groupBy on the mart key: sums add, mins/maxes
    re-min/max.  Works for any number of batches by induction; never
    rescans history.  (unionByName keeps this safe under column-order
    drift between a stored state table and a freshly built delta.)
    """
    merged = state.unionByName(delta_state)
    aggs = [_MERGE_FNS[fn](F.col(name)).alias(name) for name, (fn, _) in spec.items()]
    return merged.groupBy(*keys).agg(*aggs)


def incremental_refresh(
    state: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    spec: dict[str, tuple[str, Column]],
) -> DataFrame:
    """One refresh step: partial-aggregate the delta, merge into state.

    ``state=None`` bootstraps from the first batch alone.
    """
    d = partial_state(delta, keys, spec)
    if state is None:
        return d
    return merge_state(state, d, keys, spec)
