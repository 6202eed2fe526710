"""Record linkage / fuzzy matching — blocked edit-distance joins.

A raw ``levenshtein(a, b) <= d`` θ-join is a nested loop (Spark plans
BroadcastNestedLoop — O(n·m) comparisons); every real entity-resolution
system cuts the pair space with cheap BLOCKING keys first and spends
the expensive distance only inside blocks.  The blocking here:

- first token of the name (entities that disagree on their leading
  word are rarely the same entity), AND
- length band ⌊len/4⌋ with ±1 neighbor expansion — SOUND for the
  distance cap: d edits change length by ≤ d ≤ 2 < 4, so a true match
  is never more than one band away.  The first-token block is the
  (documented, standard) recall tradeoff: an edit inside the first
  token can escape the block.

Spark evaluates the residual with the THRESHOLD form of levenshtein
(banded O(d·len) with early abandon instead of O(len²)) — for kept
pairs (distance ≤ d) the threshold form returns the exact distance, so
the result set and values are identical to the full computation the
DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BAND = 4
_MAX_DISTANCE = 2  # below _BAND, so a match is at most one length band away


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
) -> DataFrame:
    """All (left, right) pairs with ``levenshtein(left_col, right_col)
    <= _MAX_DISTANCE``, up to first-token blocking recall.  Right
    columns come back suffixed ``_r``; a ``distance`` column is appended.
    One (token, band) shuffle; comparisons bounded by block sizes (AQE
    splits hot blocks)."""

    def keyed(df, col, explode_bands):
        n = F.lower(F.col(col))
        band = F.floor(F.length(n) / _BAND).cast("int")
        b = (
            F.explode(F.array(band - 1, band, band + 1))
            if explode_bands
            else band
        )
        return df.withColumn("__w1", F.split(n, " ")[0]).withColumn("__band", b)

    l_k = keyed(left, left_col, explode_bands=False)
    r_cols = [F.col(c).alias(f"{c}_r") for c in right.columns]
    r_k = keyed(right.select(*r_cols), f"{right_col}_r", explode_bands=True)
    dist = F.levenshtein(
        F.lower(F.col(left_col)), F.lower(F.col(f"{right_col}_r")), _MAX_DISTANCE
    )
    return (
        l_k.join(r_k, ["__w1", "__band"])
        .withColumn("distance", dist)
        .filter((F.col("distance") >= 0) & (F.col("distance") <= _MAX_DISTANCE))
        .drop("__w1", "__band")
    )
