"""Z-order (Morton) data layout — multi-dimension file skipping.

Range-partitioning a table on ONE key gives perfect pruning on that
key and none on any other.  Interleaving the bits of two keys into a
Morton code and range-partitioning on THAT gives useful locality on
both: a predicate on either dimension (or a rectangle on both) touches
only the files whose z-range intersects it — the standard
Delta/Iceberg `OPTIMIZE ZORDER BY` layout.  ``zorder_pruning_audit``
(entry_queries/q05) builds that layout from ``z_value_scaled`` and
reports each file's min/max box against a rectangle predicate.

Parquet then prunes at two levels for free: file-level via min/max
file statistics and row-group-level via the reader's predicate
pushdown — both work exactly because the z-sort made each file's and
row-group's min/max range tight on both dimensions.

Columns are min/max-normalized to the full ``bits`` range before
interleaving: with raw values, the wider-cardinality column owns all
the high interleave bits and the narrow column degrades to a suffix
(no locality).  The min/max pair per column is four scalars computed
once by the caller — the same tiny stats pass every table format's
OPTIMIZE does; the z expression itself is assembled as ONE SQL string
(NOTES.md: >100 literal sub-expressions built from Python Column ops
put plan construction ahead of execution).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def z_value_scaled(
    col_a: str, lo_a: int, hi_a: int, col_b: str, lo_b: int, hi_b: int, bits: int = 16
) -> Column:
    """Morton code of two integer columns, each min/max-scaled onto
    [0, 2^bits): bit j of scaled(a) lands at position 2j, of scaled(b)
    at 2j+1 (so b's top bit is the most significant — arbitrary but
    fixed)."""
    cap = (1 << bits) - 1

    def scaled(col: str, lo: int, hi: int) -> str:
        span = max(1, hi - lo)
        # scale in DOUBLE: the integer form ``clamped * cap`` overflows
        # bigint for spans above ~2^47 (cap = 2^bits − 1), silently
        # corrupting the clustering for wide-range keys.  Double math
        # is monotone and deterministic, which is all a layout key
        # needs (z-order affects file locality, never query results).
        return (
            f"cast(least(greatest(cast({col} as bigint) - ({lo}), 0), {span})"
            f" * cast({cap} as double) / {span} as bigint)"
        )

    a, b = scaled(col_a, lo_a, hi_a), scaled(col_b, lo_b, hi_b)
    terms = []
    for j in range(bits):
        terms.append(f"shiftleft(shiftright({a}, {j}) & 1, {2 * j})")
        terms.append(f"shiftleft(shiftright({b}, {j}) & 1, {2 * j + 1})")
    return F.expr(" + ".join(terms))

