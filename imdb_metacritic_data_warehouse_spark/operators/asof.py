"""As-of and range joins — operators Spark lacks natively.

``asof_join``: for every left row, the latest right row with
``right.ts <= left.ts`` within the same key.  Implemented as the
*union-sort* formulation, not a range join:

    tag rows (left=1, right=0) → one hash-partition shuffle on the key
    → per-key sort by (ts, tag) → ``last_value(ignorenulls)`` window
    carries the most recent right payload forward → keep left rows.

One shuffle, no range-condition nested-loop, no per-key blowup — this
is the formulation that survives 100 TB (a naive ``left.ts >= right.ts``
join is O(n·m) per key and Spark plans it as BroadcastNestedLoop).
Skewed keys: the window sort is per-key and AQE splits oversized
partitions.

``range_join_bucketed``: equi-join on coarse time buckets + residual
filter — each right row lands in ⌈range/bucket⌉+1 buckets, turning the
range predicate into a shuffle-friendly equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_CHUNK_SECONDS = 86400  # interval_overlap_join's time chunk: one day


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    right_payload: list[str] | None = None,
    right_tiebreak: str | None = None,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Left as-of join: every left row + the nearest right payload —
    pandas ``merge_asof`` parity on a distributed plan.  Both sides
    carry their timestamp in ``ts``; payload columns come out with an
    ``_asof`` suffix.

    ``direction='backward'`` (default) carries the most recent right
    row at or BEFORE the left timestamp; ``'forward'`` the earliest at
    or AFTER it (the "next purchase after this view" shape).
    ``tolerance_seconds`` bounds the match: a carried payload further
    than the tolerance from the left timestamp is nulled out, exactly
    like ``merge_asof(tolerance=...)`` — the row survives, the match
    does not.

    ``right_tiebreak`` names a right-side column that deterministically
    orders right rows sharing (key, ts) — the carried payload is the
    row with the HIGHEST tiebreak value.  Without it, duplicate right
    timestamps leave the carried payload plan-order-dependent (stable
    per run, but a differential flake against engines that resolve
    ASOF ties their own way — ADVICE r3).

    Plan shape is direction-independent: one union + one per-key window
    scan (never a θ-join) — forward simply scans time in reverse."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    payload = right_payload or [c for c in right.columns if c not in (key, "ts")]
    tie_type = dict(right.dtypes)[right_tiebreak] if right_tiebreak else "int"
    rts_type = dict(right.dtypes)["ts"]
    r_struct_type = (
        "struct<"
        + ",".join(f"{c}:{dict(right.dtypes)[c]}" for c in payload)
        + f",__rts:{rts_type}>"
    )
    l_tag = left.select(
        F.col(key),
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(tie_type).alias("__tie"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(r_struct_type).alias("__r"),
    )
    r_tag = right.select(
        F.col(key),
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__is_left"),
        (F.col(right_tiebreak) if right_tiebreak else F.lit(0)).alias("__tie"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{dict(left.dtypes)[c]}" for c in left.columns) + ">"
        ).alias("__l"),
        F.struct(
            *[F.col(c) for c in payload], F.col("ts").alias("__rts")
        ).alias("__r"),
    )
    unioned = l_tag.unionByName(r_tag)
    # right rows sort before left rows at equal ts (tag 0 < 1): an exact
    # tie means the right row IS visible to the left row (<=/>= include
    # equality in both directions).  Among equal-(key, ts) right rows,
    # ascending tiebreak puts the highest value last — last_value
    # carries it.  Left rows' NULL tie sorts first WITHIN tag 1 (asc
    # nulls-first default) — irrelevant, tag already orders them after
    # every right row of the same ts.  Forward direction reverses ONLY
    # the time axis: the scan then meets right rows from the far future
    # first and the last one seen before a left row is the nearest
    # at-or-after match.
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(key)
        .orderBy(ts_order, F.col("__is_left").asc(), F.col("__tie").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
    matched = F.col("__last_r")
    if tolerance_seconds is not None:
        gap = (
            F.col("__ts").cast("long") - F.col("__last_r.__rts").cast("long")
            if direction == "backward"
            else F.col("__last_r.__rts").cast("long") - F.col("__ts").cast("long")
        )
        matched = F.when(gap <= F.lit(int(tolerance_seconds)), F.col("__last_r"))
    carried = carried.withColumn("__m", matched)
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns] + [
        F.col(f"__m.{c}").alias(f"{c}_asof") for c in payload
    ]
    return carried.filter(F.col("__is_left") == 1).select(*out_cols)


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    range_seconds: int,
) -> DataFrame:
    """Pairs (left, right) with same key and ``left_ts - range <=
    right_ts <= left_ts``, via bucketized equi-join + residual filter
    on buckets one range wide."""
    bucket = max(range_seconds, 1)
    n_buckets = range_seconds // bucket + 1
    l_b = left.withColumn(
        "__bucket", (F.unix_timestamp(left_ts) / bucket).cast("long")
    )
    r_b = right.withColumn(
        "__rbucket", (F.unix_timestamp(right_ts) / bucket).cast("long")
    ).withColumn(
        "__bucket",
        F.explode(
            F.sequence(F.col("__rbucket"), F.col("__rbucket") + n_buckets)
        ),
    )
    joined = l_b.join(r_b, [key, "__bucket"]).filter(
        (F.col(right_ts) <= F.col(left_ts))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {range_seconds} SECOND"))
    )
    return joined.drop("__bucket", "__rbucket")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
) -> DataFrame:
    """INTERVAL × INTERVAL overlap join (both sides are [start, end]
    ranges in ``start_ts``/``end_ts`` — the shape ``range_join_bucketed``
    does not cover, where only one side is a point): all same-key pairs with
    ``l.start <= r.end AND r.start <= l.end``.

    Spark plans a raw overlap predicate as BroadcastNestedLoop — O(n·m)
    per key.  Here both sides explode to the ``_CHUNK_SECONDS`` time
    chunks their interval covers and equi-join on (key, chunk), which
    shuffles instead of looping.  A pair overlapping several chunks
    would emit duplicates; instead of a ``dropDuplicates`` shuffle,
    each surviving pair is kept only in the chunk that OWNS it — the
    chunk containing ``greatest(l.start, r.start)`` (the overlap's
    first instant, which both rows provably cover) — a pure codegen
    filter, so the whole operator is ONE shuffle.

    Scale: fan-out per row is ⌈span/chunk⌉+1 — the one-day chunk sits
    near the TYPICAL interval span (explosion stays O(rows)); a few
    huge intervals only widen their own fan-out linearly, and the
    (key, chunk) join AQE-splits hot chunks.  Right columns are
    suffixed ``_r``; both bound columns must be non-null timestamps."""
    ls, le = "start_ts", "end_ts"
    r_renamed = right.select(
        F.col(key),
        *[F.col(c).alias(f"{c}_r") for c in right.columns if c != key],
    )
    rs, re = "start_ts_r", "end_ts_r"

    def chunks(start_col: str, end_col: str) -> Column:
        return F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / _CHUNK_SECONDS),
                F.floor(F.unix_timestamp(F.col(end_col)) / _CHUNK_SECONDS),
            )
        )

    l_c = left.withColumn("__chunk", chunks(ls, le))
    r_c = r_renamed.withColumn("__chunk", chunks(rs, re))
    owner = F.floor(
        F.greatest(F.unix_timestamp(F.col(ls)), F.unix_timestamp(F.col(rs)))
        / _CHUNK_SECONDS
    )
    return (
        l_c.join(r_c, [key, "__chunk"])
        .filter(
            (F.col(ls) <= F.col(re))
            & (F.col(rs) <= F.col(le))
            & (F.col("__chunk") == owner)
        )
        .drop("__chunk")
    )
