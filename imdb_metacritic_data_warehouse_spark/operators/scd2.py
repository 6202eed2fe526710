"""SCD2 historization — the reference's write path, re-expressed as a
single-pass DataFrame rewrite.

Reference behavior (``stg_checker``, ``ddl.py:463-558``): per batch,
stamp the freshly-built snapshot with ``valid_from = now, valid_to =
'9999-12-31'``; close open target rows whose key vanished or whose
attrs changed (UPDATE, ``ddl.py:537-542``); insert new/changed rows
(``ddl.py:544-549``).  Hubs and marts take the insert-only path
(``ddl.py:551-556``).

Spark design (SURVEY.md §2.9): parquet has no UPDATE, so the merge
computes the *complete next state* and the caller commits it as a new
immutable table version (sources/table.py).  Differences from the
reference, both deliberate and documented:

- **Atomicity**: the reference's close-out and insert are separate
  transactions; here one versioned write is all-or-nothing.
- **Determinism**: ``batch_ts`` is an injected parameter, not
  ``current_timestamp`` (``ddl.py:527``), so runs are reproducible.
- **Null-safe change detection**: the reference's dynamic ``l.a != t.a
  or ...`` predicate (``ddl.py:532-534``) treats value↔NULL transitions
  as "unchanged"; we use ``<=>`` so they close/open correctly.
- **NULL pks**: the reference's ``=`` join never matches a NULL pk, so
  its NULL-pk rows never close and are re-inserted open every batch;
  here a NULL-pk row matches an identical open row and otherwise
  closes or opens like a vanished or new key.

Scale design (100 TB): ONE shuffle.  Open target rows and the new
snapshot are joined full-outer on the (md5-uniform, skew-free) pk; each
joined row emits 0–2 output rows via an array+explode, so close-out and
insert are produced in a single pass with no second join and no
``.cache()``.  Closed history never joins at all — it is unioned back
untouched, so the table layer still reads and rewrites it on every
merge (see ``sources/table.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import null_safe_neq_any

OPEN_SENTINEL = "9999-12-31 00:00:00"
VALID_FROM = "valid_from"
VALID_TO = "valid_to"


def _open_lit():
    return F.lit(OPEN_SENTINEL).cast("timestamp")


def stamp(new_df: DataFrame, batch_ts: str) -> DataFrame:
    """Stamp a snapshot as all-open (``ddl.py:527-530``)."""
    return new_df.withColumn(VALID_FROM, F.lit(batch_ts).cast("timestamp")).withColumn(
        VALID_TO, _open_lit()
    )


def scd2_apply(
    target: DataFrame | None,
    new_df: DataFrame,
    pk: str,
    attrs: list[str],
    batch_ts: str,
) -> DataFrame:
    """Return the complete next state of an SCD2 table.

    ``new_df`` is the freshly-built snapshot (pk + attrs, no validity
    columns); ``target`` the current state or None on first load.
    """
    cols = [pk, *attrs]
    out_cols = [*cols, VALID_FROM, VALID_TO]
    new_stamped = stamp(new_df.select(*cols), batch_ts)

    if target is None:
        return new_stamped.select(*out_cols)

    open_tgt = target.filter(F.col(VALID_TO) == _open_lit())
    closed_tgt = target.filter(F.col(VALID_TO) != _open_lit())

    t = open_tgt.alias("t")
    n = new_stamped.alias("n")
    changed = null_safe_neq_any("t", "n", attrs)
    # A NULL pk names no row: NULL-pk rows match only an identical row,
    # so an unchanged one stays open and any other closes or opens.
    # Several NULL-pk rows may share a snapshot; the snapshot being a
    # row set (every builder ends in a distinct) keeps matches 1:1.
    key_match = F.col(f"t.{pk}").eqNullSafe(F.col(f"n.{pk}")) & (
        F.col(f"t.{pk}").isNotNull() | ~changed
    )
    joined = t.join(n, key_match, "full_outer")

    def row_struct(prefix: str, valid_from, valid_to):
        return F.struct(
            *[F.col(f"{prefix}.{c}").alias(c) for c in cols],
            valid_from.alias(VALID_FROM),
            valid_to.alias(VALID_TO),
        )

    # presence from a column never NULL on its side (the pk may be)
    t_present = F.col(f"t.{VALID_FROM}").isNotNull()
    n_present = F.col(f"n.{VALID_FROM}").isNotNull()
    batch_lit = F.lit(batch_ts).cast("timestamp")

    t_open = row_struct("t", F.col(f"t.{VALID_FROM}"), F.col(f"t.{VALID_TO}"))
    t_closed = row_struct("t", F.col(f"t.{VALID_FROM}"), batch_lit)
    n_open = row_struct("n", batch_lit, _open_lit())

    emitted = (
        F.when(t_present & ~n_present, F.array(t_closed))  # vanished key → close
        .when(~t_present & n_present, F.array(n_open))  # brand-new key → open
        .when(t_present & n_present & changed, F.array(t_closed, n_open))
        .otherwise(F.array(t_open))  # unchanged → keep as-is
    )

    merged = joined.select(F.explode(emitted).alias("r")).select(
        *[F.col(f"r.{c}").alias(c) for c in out_cols]
    )
    return closed_tgt.select(*out_cols).unionByName(merged)


def insert_only_merge(
    target: DataFrame | None, new_df: DataFrame, pk: str, cols: list[str]
) -> DataFrame:
    """Insert-only path for hubs and marts (``ddl.py:551-556``).

    The reference uses ``pk NOT IN (SELECT DISTINCT pk FROM target)`` —
    PG NOT-IN null semantics would silently insert nothing if any
    existing pk were NULL.  We use ``left_anti`` (the sane semantics,
    SURVEY.md §7.2); pks are md5 outputs so the cases only differ on
    NULL keys.
    """
    new_sel = new_df.select(*cols)
    if target is None:
        return new_sel
    # eqNullSafe anti-join: a NULL pk row (possible in employee_hub when
    # the scraped name is NULL) inserts exactly once instead of either
    # never (PG NOT IN) or once per batch (plain left_anti).
    fresh = new_sel.alias("n").join(
        target.select(pk).alias("e"),
        F.col(f"n.{pk}").eqNullSafe(F.col(f"e.{pk}")),
        "left_anti",
    )
    return target.select(*cols).unionByName(fresh)
