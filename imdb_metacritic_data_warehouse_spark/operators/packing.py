"""Sequence packing — turning a document corpus into fixed-token-budget
training sequences (the "concatenate everything, cut every B tokens"
layout LLM pretraining uses).

The prefix-dependent part — where does each document start in the
global token stream? — is a global cumulative sum.  A bare
``sum() over (order by ...)`` window pulls every row through ONE task
(the same straggler as the reference's un-partitioned row_number,
``mart/rating_slide.sql:7``); ``global_cumsum`` is the two-phase
version (range partition → local cumsum → broadcast per-partition
offsets), the one-column case of ``operators/rank.global_prefix``.

Given each document's [start, end) token span, its sequence assignments
are pure arithmetic: it lands in sequences ``floor(start/B)`` through
``floor((end-1)/B)``, contributing ``min(end,(s+1)B) − max(start,sB)``
tokens to sequence ``s`` — one ``sequence()`` explode, no shuffle
beyond the cumsum's.  Long documents straddle a boundary and split,
exactly like the training layout they feed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rank import global_prefix


def global_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "cumsum",
) -> DataFrame:
    """Attach the inclusive prefix sum of ``value_col`` under a total
    order (``order_cols`` must be deterministic and unique-prefixed,
    like global_row_number's)."""
    return global_prefix(df, order_cols, [value_col], None).withColumnRenamed(
        f"cum_{value_col}", out_col
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Assign each document its training-sequence span under the
    concat-and-cut layout, documents in ``id_col`` order.

    Output: one row per (document, sequence) pair —
    ``(id_col, seq_id, tokens_in_seq, starts_here)`` where
    ``starts_here`` marks the sequence holding the document's first
    token.  Rows with a non-positive token count are dropped (nothing
    to pack).
    """
    spanned = (
        global_cumsum(
            df.filter(F.col(token_col) > 0), [F.col(id_col)], token_col, out_col="__end"
        )
        .withColumn("__start", F.col("__end") - F.col(token_col))
    )
    b = F.lit(budget).cast("long")
    first_seq = F.floor(F.col("__start") / b)
    last_seq = F.floor((F.col("__end") - 1) / b)
    seqs = spanned.select(
        id_col,
        "__start",
        "__end",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    return seqs.select(
        id_col,
        "seq_id",
        (
            F.least(F.col("__end"), (F.col("seq_id") + 1) * b)
            - F.greatest(F.col("__start"), F.col("seq_id") * b)
        ).alias("tokens_in_seq"),
        (F.col("seq_id") == F.floor(F.col("__start") / b)).alias("starts_here"),
    )


def plan_compaction(
    df: DataFrame,
    id_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction planning — the table-maintenance step that
    keeps a 100 TB parquet layout healthy (thousands of tiny files per
    partition kill scan throughput and driver planning time).

    Given a file inventory (id, size), assign every file to a merge
    group of ~``target_bytes``: files are laid out in ``id_col``
    order, each gets its global byte offset via the two-phase
    ``global_cumsum`` (no single-task window), and its group is plain
    arithmetic ``floor(start / target)`` — files are never split
    (unlike ``pack_sequences``), so a group can overshoot by at most
    one file.  Output: (id, size, bin_id, bin_start_offset) — the
    driver of an actual rewrite job reads this plan and merges each
    bin in one task.
    """
    spanned = global_cumsum(
        df.filter(F.col(size_col) > 0), [F.col(id_col)], size_col, out_col="__end"
    ).withColumn("__start", F.col("__end") - F.col(size_col))
    t = F.lit(target_bytes).cast("long")
    return spanned.select(
        id_col,
        size_col,
        F.floor(F.col("__start") / t).cast("long").alias("bin_id"),
        F.col("__start").alias("bin_start_offset"),
    )


def deterministic_shuffle(df: DataFrame, id_col: str, salt: str) -> DataFrame:
    """Deterministic global permutation for training-order shuffling:
    ``pos`` = rank under ``md5(id || salt)`` (uniform, engine-portable,
    reshuffled by changing ``salt`` — no ``rand()``, so reruns and
    retried tasks agree).  Two-phase ranking via global_row_number."""
    from .rank import global_row_number

    keyed = df.withColumn(
        "__shuf", F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    )
    return global_row_number(
        keyed, [F.col("__shuf"), F.col(id_col)], out_col="pos"
    ).drop("__shuf")
