"""Pipeline runner — the Spark-native ``etl_layer_transfer.py`` + ``stg_checker``.

``Warehouse`` owns the physical layout (bronze parquet in, versioned
parquet tables per stg/mart table) and the M4 dispatch: repair → stg
layer → mart layer, in the reference's fixed dependency order, choosing
SCD2 vs insert-only from the registry (not the name-match at
``ddl.py:526``).

Schema handling: builders emit exactly the registered columns and the
merge select-aligns against the registry — the Spark analogue of the
reference's add/retype/drop reconciliation loop (``ddl.py:492-520``);
a registry change simply re-shapes the next version write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import registry
from ..operators.repair import repair_role_rotation
from ..operators.scd2 import insert_only_merge, scd2_apply
from ..sources.bronze import read_bronze
from ..sources.table import VersionedParquetTable
from . import core as core_builders
from . import marts as mart_builders


def align_to_spec(df: DataFrame, spec) -> DataFrame:
    """Schema reconciliation — the Spark analogue of the reference's
    add/retype/drop loop (``ddl.py:492-520``): missing registered
    columns appear as typed NULLs, every column is cast to its
    registered type, unregistered columns are dropped (by omission).
    Extra validity columns (SCD2) pass through untouched."""
    out = []
    have = dict(df.dtypes)
    for name, typ in spec.columns:
        if name in have:
            out.append(F.col(name).cast(typ).alias(name))
        else:
            out.append(F.lit(None).cast(typ).alias(name))
    for extra in ("valid_from", "valid_to"):
        if extra in have:
            out.append(F.col(extra))
    return df.select(*out)


def _resolve_builder(name: str):
    for mod in (core_builders, mart_builders):
        fn = getattr(mod, name, None)
        if fn is not None:
            return fn
    raise KeyError(f"no builder named {name}")


class Warehouse:
    def __init__(self, spark: SparkSession, bronze_root: str, warehouse_root: str):
        from ..session import ensure_engine_confs

        self.spark = ensure_engine_confs(spark)
        self.bronze_root = bronze_root
        self.root = warehouse_root

    # -- reads ---------------------------------------------------------------
    def bronze(self, table: str) -> DataFrame:
        """Raw-layer read; actor tables pass through the rotation repair
        (the reference mutates them in place pre-ELT,
        ``etl_layer_transfer.py:10-20`` — we repair on read, keeping
        bronze immutable).  Each call is a fresh scan on purpose: shared
        in-memory plans across builders break df.attr references in
        join consumers (see entry_queries.q02_pipeline_parity._ShimWarehouse)."""
        df = read_bronze(self.spark, self.bronze_root, table)
        if table.startswith("actor_raw"):
            df = repair_role_rotation(df)
        return df

    def catalog_database(self) -> str:
        """Name of a session-catalog database derived from the warehouse
        root, so distinct roots (per-invocation scratch dirs included)
        never collide.  The registered tables do not use the catalog;
        this is for callers that keep their own catalog tables beside
        a warehouse."""
        import hashlib

        return "wh_" + hashlib.md5(self.root.encode()).hexdigest()[:10]

    def table(self, schema: str, name: str) -> VersionedParquetTable:
        """Physical handle for a registered table: versioned parquet
        under ``<root>/<schema>/<name>``.  Every table's layout, pointer
        and schema live on disk, so a new session over the same root
        sees the same committed history."""
        return VersionedParquetTable(self.spark, os.path.join(self.root, schema), name)

    def read(self, schema: str, name: str) -> DataFrame:
        return self.table(schema, name).read()

    # -- merge dispatch (the stg_checker equivalent) -------------------------
    def run_table(self, schema: str, name: str, batch_ts: str) -> None:
        spec = registry.ALL_SPECS[(schema, name)]
        snapshot = align_to_spec(_resolve_builder(spec.builder)(self), spec)
        tab = self.table(schema, name)
        # align the target too: a registry change (add/retype/drop)
        # takes effect on the next merge, like stg_checker's reconcile
        target = align_to_spec(tab.read(), spec) if tab.exists() else None
        cols = [c for c, _ in spec.columns]
        if spec.scd2:
            merged = scd2_apply(target, snapshot, spec.pk, spec.attrs, batch_ts)
        else:
            merged = insert_only_merge(target, snapshot, spec.pk, cols)
        tab.write(merged)

    def run_layer(self, schema: str, batch_ts: str) -> None:
        order = registry.STG_ORDER if schema == "stg" else registry.MART_ORDER
        for name in order:
            self.run_table(schema, name, batch_ts)

    def run_pipeline(self, batch_ts: str) -> None:
        """Full ELT run (``etl_layer_transfer.py:73-75``)."""
        self.run_layer("stg", batch_ts)
        self.run_layer("data_mart", batch_ts)

    def register_views(self) -> list[str]:
        """Expose every committed table to ``spark.sql`` as
        ``<schema>_<table>`` temp views — the SQL surface reference
        users query (``select * from data_mart.movie_data`` becomes
        ``data_mart_movie_data``).  Views resolve the version pointer at
        registration; re-register after a pipeline run to advance."""
        names = []
        for (schema, name), _spec in registry.ALL_SPECS.items():
            tab = self.table(schema, name)
            if tab.exists():
                view = f"{schema}_{name}"
                tab.read().createOrReplaceTempView(view)
                names.append(view)
        return names
