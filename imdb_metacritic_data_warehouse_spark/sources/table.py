"""Versioned parquet tables — the engine's mutable-table primitive.

The reference mutates Postgres heap tables in place with multi-statement
UPDATE+INSERT and per-statement commits (``ddl.py:530-555``) — no
atomicity across the SCD2 close-out and insert.  Parquet has no UPDATE,
so each merge writes a *complete new version directory* and atomically
swaps a pointer file:

    <root>/<table>/v=N/...parquet      (immutable version directories)
    <root>/<table>/v=N/_schema.json    (the version's Spark schema)
    <root>/<table>/_VERSION            (text file: current N; atomic rename)

This is a deliberately minimal Delta-style commit protocol (same idea as
Delta Lake's _delta_log, without the jar dependency): readers resolve
the pointer then read one immutable directory, so a crashed writer can
never leave a half-merged table, and concurrent readers always see a
consistent snapshot.  Each version carries its schema, committed
before the pointer swap, so opening a version is a file listing and
never a schema-inference Spark job; versions written before the schema
file existed fall back to inference.  Spark's parquet reader skips
``_``-prefixed files, so the schema file is invisible to scans.

Scale notes (100 TB):
- Every merge rewrites the whole table: ``scd2_apply`` unions closed
  history back in and ``write`` puts all of it into the new version
  directory, so merge cost is O(history), not O(open rows).  Each
  version is one unpartitioned directory; carrying closed-history
  files forward by manifest instead of rewriting them is ROADMAP
  item 4.
- Version directories are plain parquet → vectorized scans and
  predicate pushdown work unchanged.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..functions.keys import null_safe_neq_any

_POINTER = "_VERSION"
_SCHEMA = "_schema.json"
_RETAIN = 2  # committed versions kept for time travel
_ORPHAN_AGE_SECONDS = 3600.0  # vacuum spares younger uncommitted dirs


class VersionedParquetTable:
    """A named table under ``root`` with atomic version swap."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.path = os.path.join(root, name)
        self.name = name

    # -- pointer management -------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.path, _POINTER)

    def current_version(self) -> int | None:
        try:
            with open(self._pointer_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self) -> bool:
        return self.current_version() is not None

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v={v}")

    # -- IO -----------------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Read the committed version, or time-travel to an older one
        still inside the retention window (``_gc`` keeps the last
        ``_RETAIN``).
        Opens with the version's committed schema (no inference job)
        when it has one."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"table {self.name} has no committed version")
        out = self._version_dir(v)
        if version is not None and not os.path.isdir(out):
            raise FileNotFoundError(
                f"table {self.name} version {version} is gone (outside retention)"
            )
        try:
            with open(os.path.join(out, _SCHEMA)) as f:
                schema = StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return self.spark.read.parquet(out)
        return self.spark.read.schema(schema).parquet(out)

    def write(self, df: DataFrame) -> int:
        """Write a new version and commit it via atomic pointer rename."""
        v = (self.current_version() or 0) + 1
        out = self._version_dir(v)
        df.write.mode("overwrite").parquet(out)
        with open(os.path.join(out, _SCHEMA), "w") as f:
            f.write(df.schema.json())
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer_path())  # atomic commit
        self._gc(keep=v)
        return v

    def compact(self) -> int:
        """Rewrite the current version into one file — the small-files
        countermeasure.  Every SCD2 merge writes a fresh
        version that can fragment into one file per shuffle task; at
        cluster scale thousands of tiny files per table degrade scan
        planning and NameNode/listing pressure, so compact
        periodically.  Runs through the same atomic commit as any
        write."""
        return self.write(self.read().coalesce(1))

    def vacuum(self) -> list[str]:
        """Explicit maintenance sweep for the cleanup the per-write
        ``_gc`` never does: ORPHANED dirs from crashed writes.  A
        ``v=N`` with N above the committed pointer was written but
        never committed (the crash window ``write`` survives by design)
        and would otherwise leak a full table copy forever.  Orphans
        younger than ``_ORPHAN_AGE_SECONDS`` are kept — they may be a
        concurrent writer mid-flight (first-writer-wins discipline), so
        vacuum is safe to run alongside writers.

        Returns the removed paths (for the operator's audit log)."""
        cur = self.current_version()
        if cur is None or not os.path.isdir(self.path):
            return []
        import time as _time

        removed: list[str] = []
        cutoff = _time.time() - _ORPHAN_AGE_SECONDS
        for entry in os.listdir(self.path):
            if not entry.startswith("v="):
                continue
            try:
                v = int(entry.split("=", 1)[1])
            except ValueError:
                continue
            p = os.path.join(self.path, entry)
            if v > cur and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        return removed

    def _gc(self, keep: int) -> None:
        """Drop version dirs older than the last ``_RETAIN`` (time-travel
        window); never the committed one."""
        if not os.path.isdir(self.path):
            return
        for entry in os.listdir(self.path):
            if entry.startswith("v="):
                try:
                    v = int(entry.split("=", 1)[1])
                except ValueError:
                    continue
                if v <= keep - _RETAIN:
                    shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)


def version_diff(
    table: VersionedParquetTable,
    pk: str,
    v_from: int | None = None,
    include_old: bool = False,
) -> DataFrame:
    """Change-data-feed from ``v_from`` to the current version (the lakehouse
    CDF surface a downstream incremental consumer reads instead of
    re-scanning the table): one FULL OUTER join on the pk classifies
    every key as ``insert`` / ``delete`` / ``update`` (any non-pk column
    differing, null-safe) — unchanged keys are dropped.  Emitted values
    are the NEW row for insert/update and the OLD row for delete, so
    applying the feed to ``v_from`` reproduces the current version
    exactly.

    ``v_from`` defaults to the previous committed version; it must
    still be inside the retention window.  A NULL pk names no row and
    never matches: every NULL-pk row of ``v_from`` is a delete and
    every one of the current version an insert.  Scale: the pk join
    is the only shuffle."""
    from pyspark.sql import functions as F

    cur = table.current_version()
    if cur is None:
        raise FileNotFoundError(f"table {table.name} has no committed version")
    v_from = cur - 1 if v_from is None else v_from
    new = table.read(cur)
    cols = new.columns
    attrs = [c for c in cols if c != pk]
    # presence markers: never NULL on their own side, unlike the pk
    old = table.read(v_from).withColumn("__in_o", F.lit(True)).alias("o")
    new = new.withColumn("__in_n", F.lit(True)).alias("n")
    joined = old.join(new, F.col(f"o.{pk}") == F.col(f"n.{pk}"), "full_outer")
    changed = null_safe_neq_any("o", "n", attrs)
    o_present = F.col("o.__in_o").isNotNull()
    n_present = F.col("n.__in_n").isNotNull()
    change_type = (
        F.when(~o_present, F.lit("insert"))
        .when(~n_present, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    src = F.when(n_present, F.struct(*[F.col(f"n.{c}").alias(c) for c in cols])).otherwise(
        F.struct(*[F.col(f"o.{c}").alias(c) for c in cols])
    )
    out = (
        joined.select(
            change_type.alias("change_type"),
            src.alias("__r"),
            *(
                [
                    F.struct(*[F.col(f"o.{c}").alias(c) for c in cols]).alias("__o")
                ]
                if include_old
                else []
            ),
        )
        .filter(F.col("change_type").isNotNull())
    )
    if include_old:
        # retraction consumers (incremental aggregate maintenance) need
        # the PRE-image of an update to subtract it from state; expose
        # it as old_<col> (NULL on inserts)
        return out.select(
            "change_type",
            "__r.*",
            *[F.col(f"__o.{c}").alias(f"old_{c}") for c in cols],
        )
    return out.select("change_type", "__r.*")
