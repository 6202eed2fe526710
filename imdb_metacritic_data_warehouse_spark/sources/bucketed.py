"""Bucketed tables — co-located joins and shuffle-free aggregation.

The versioned-parquet layer (``table.py``) owns the SCD2 write path;
this module is the complementary layout for the BIG fact tables: write
once bucketed (+sorted) by the join/grouping key, and every subsequent
equi-join between co-bucketed tables and every groupBy on the bucket
key runs WITHOUT a shuffle — at 100 TB that turns the recurring
lineitem⋈orders shuffle (the single largest network cost in the TPC-H
shapes) into a map-side zip of pre-sorted buckets.

Rules that make it work (asserted in tests/test_plan_quality.py's
bucketed tests):
- both sides bucketed by the SAME key into the SAME bucket count;
- bucket count chosen for target-SF task sizing (buckets ≈ cluster
  cores × small multiple; each bucket ≲ a few hundred MB);
- ``sortBy`` the bucket key so sort-merge join skips its sort.

Bucketing metadata lives in the session catalog (``saveAsTable``) —
plain ``.parquet()`` files cannot carry it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    num_buckets: int = 32,
    partition_by: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed and bucket-sorted catalog table.
    ``partition_by`` composes with bucketing (partition dirs, buckets
    within each) — co-located joins survive it (asserted in
    tests/test_plan_quality.py)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.bucketBy(num_buckets, bucket_key).sortBy(bucket_key).saveAsTable(table)


class BucketedVersionedTable:
    """Versioned table whose versions are BUCKETED catalog tables —
    a storage layout for big tables whose joins should co-locate
    (e.g. an SCD2 link ⋈ satellite on the link key).  ``Warehouse``
    does not use it: without a persistent metastore the catalog dies
    with the session, so a new session sees no committed version.

    Same commit protocol as ``VersionedParquetTable`` (version number in
    a pointer file, atomic rename) but each version is
    ``saveAsTable``-written with ``bucketBy(key)``, because bucketing
    metadata only exists in the catalog — a plain parquet directory
    cannot carry it.  Readers resolve the pointer and ``spark.table``
    the versioned name, so an SCD2 merge rewrite keeps the bucket
    layout on every version, and downstream joins between two tables
    bucketed on the same key with the same count plan with no shuffle.
    """

    def __init__(
        self,
        spark: SparkSession,
        database: str,
        name: str,
        bucket_key: str,
        num_buckets: int = 32,
        pointer_root: str | None = None,
    ):
        import os

        self.spark = spark
        self.database = database
        self.name = name
        self.bucket_key = bucket_key
        self.num_buckets = num_buckets
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        root = pointer_root or spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        self._pointer = os.path.join(root, f"_{database}_{name}_VERSION")

    def current_version(self) -> int | None:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self) -> bool:
        v = self.current_version()
        # a pointer can outlive the session-scoped catalog (fresh
        # session over an old warehouse dir): treat that as absent so
        # the next merge starts clean instead of failing the read
        return v is not None and self.spark.catalog.tableExists(self._vname(v))

    def _vname(self, v: int) -> str:
        return f"{self.database}.{self.name}_v{v}"

    def read(self) -> DataFrame:
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"{self.database}.{self.name}: no committed version")
        df = self.spark.table(self._vname(v))
        # `is_open` is physical layout (partition pruning), not schema
        return df.drop("is_open") if "is_open" in df.columns else df

    def write(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        import os

        v = (self.current_version() or 0) + 1
        # A managed table's files can outlive its catalog entry: the
        # session catalog is in-memory (no Hive metastore here), so a
        # new session over an old warehouse dir sees no table but a
        # populated location, and saveAsTable fails with
        # LOCATION_ALREADY_EXISTS.  Reconcile: drop any catalog entry,
        # then clear the stale location before writing this version.
        import shutil

        self.spark.sql(f"DROP TABLE IF EXISTS {self._vname(v)}")
        wdir = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        loc = os.path.join(wdir, f"{self.database}.db", f"{self.name}_v{v}")
        shutil.rmtree(loc, ignore_errors=True)
        write_bucketed(
            df, self._vname(v), self.bucket_key, self.num_buckets,
            partition_by=partition_by,
        )
        os.makedirs(os.path.dirname(self._pointer) or ".", exist_ok=True)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer)
        # retain previous version for snapshot readers; drop older
        old = v - 2
        if old >= 1:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._vname(old)}")
        return v
