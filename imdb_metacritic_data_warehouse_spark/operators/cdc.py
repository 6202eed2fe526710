"""Generic multi-clause CDC apply — the full ANSI MERGE surface.

The reference's load path only ever needed two MERGE shapes: SCD2
update-or-insert (``operators/scd2.py``, mirroring ``ddl.py:463-558``)
and anti-join insert-only.  A warehouse ingesting CDC streams needs the
third clause too: WHEN MATCHED AND op = 'D' THEN DELETE.  This module
applies one change batch carrying per-row operations (I/U/D) against a
base snapshot in ONE pass:

- ``D`` rows remove the matching base row;
- ``U`` rows replace the matching base row's payload;
- ``I`` rows are appended (last-writer-wins if the key already exists
  is NOT silently applied — an ``I`` on an existing key is a data-quality
  signal, surfaced via the ``strict`` flag).

Plan shape: one left join base←changes on the key (the only shuffle;
both sides hash-partition on the key, so at 100 TB this is a plain
co-partitioned equi-join — AQE handles skewed hot keys), then a union
with the insert slice.  No window functions, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_cdc_batch(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    strict: bool = False,
) -> DataFrame:
    """Apply a CDC batch to ``base``.

    ``changes`` must carry ``key``, ``op`` ('I' | 'U' | 'D'), and
    the same payload columns as ``base`` (payload values are ignored
    for 'D').  At most one change row per key per batch is the caller's
    contract (enforce upstream with last-change-wins compaction).

    ``strict=True`` raises if an 'I' row's key already exists in base
    or a 'U'/'D' row's key does not (referential CDC integrity);
    ``strict=False`` degrades gracefully: orphan 'U'/'D' are no-ops,
    'I' on an existing key keeps the BASE row (inserts never clobber).
    """
    payload = [c for c in base.columns if c != key]
    ch = changes.select(
        F.col(key), F.col("op").alias("__op"), *[F.col(c).alias(f"__n_{c}") for c in payload]
    )
    if strict:
        bad = (
            base.select(key)
            .withColumn("__in_base", F.lit(1))
            .join(ch, key, "right")
            .filter(
                (F.col("__op").isin("U", "D") & F.col("__in_base").isNull())
                | ((F.col("__op") == "I") & F.col("__in_base").isNotNull())
            )
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(f"CDC integrity violation near key={bad[0][key]!r}")
    merged = (
        base.join(ch, key, "left")
        .filter(F.col("__op").isNull() | (F.col("__op") != "D"))
        .select(
            F.col(key),
            *[
                F.when(F.col("__op") == "U", F.col(f"__n_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in payload
            ],
        )
    )
    inserts = (
        ch.filter(F.col("__op") == "I")
        .join(base.select(key), key, "left_anti")
        .select(F.col(key), *[F.col(f"__n_{c}").alias(c) for c in payload])
    )
    return merged.unionByName(inserts)
