"""Skew-aware aggregation — salting for hot keys.

AQE's skew-join splitting handles skewed JOINS automatically, but a
groupBy over a hot key (one user producing 30% of events, one document
template producing millions of near-identical rows) still funnels the
hot key's rows into a single reducer.  ``salted_agg`` implements the
standard two-phase rewrite:

  phase 1: groupBy(keys, salt = pmod(hash(random-ish col), S)) —
           partial aggregates spread over S reducers;
  phase 2: groupBy(keys) — combine S partials per key.

Only algebraic aggregates (sum/count/min/max — anything with an
associative combine) are expressible this way; pass the combine
expression explicitly.  Deterministic: the salt is derived from a data
column, not rand(), so reruns produce identical partials.

At 100 TB this is the difference between one straggler task holding a
multi-GB hash entry and S bounded tasks; S should be sized to the
executor count (default 16).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT_BUCKETS = 16  # salted_join: ways each hot key is split


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    salt_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``partial_aggs``: output-name → aggregate over the raw rows
    (phase 1).  ``final_aggs``: output-name → aggregate over the phase-1
    partial columns (phase 2 combine).  ``salt_col``: any data column
    with per-row variation (an id works); its hash spreads the hot key.
    """
    salt = F.pmod(F.hash(F.col(salt_col)), F.lit(salt_buckets)).alias("__salt")
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*[expr.alias(name) for name, expr in partial_aggs.items()])
    )
    return phase1.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in final_aggs.items()]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str],
    salt_col: str,
) -> DataFrame:
    """Skew-split inner equi-join: big skewed ``fact`` ⋈ replicated ``dim``.

    AQE splits skewed SHUFFLE partitions after the fact; salting fixes
    the layout up front and is the only option when the engine must
    guarantee bounded task size (or when AQE's split heuristics miss —
    e.g. one key = 30% of the fact).  Rewrite:

      fact side: salt = pmod(hash(salt_col), S) with S = _SALT_BUCKETS
                 — appends the salt to the join key, splitting each
                 hot key S ways;
      dim side:  every row replicated S times, once per salt value
                 (posexplode of a literal range — dim grows S×, which
                 is why this is for big⋈SMALLISH-but-not-broadcastable
                 or hot-key-heavy shapes).

    Join on (keys + salt); the salt column never escapes.  Semantics
    identical to ``fact.join(dim, keys)`` because every fact row finds
    exactly its one salted dim copy.
    Deterministic: salt comes from a data column, not rand().
    """
    salts = ",".join(str(i) for i in range(_SALT_BUCKETS))
    fact_s = fact.withColumn(
        "__salt", F.pmod(F.hash(F.col(salt_col)), F.lit(_SALT_BUCKETS))
    )
    dim_s = dim.withColumn("__salt", F.explode(F.expr(f"array({salts})")))
    return fact_s.join(dim_s, [*keys, "__salt"], "inner").drop("__salt")
