"""PySpark-native analytics engine with the query & data-processing
capabilities of murik032/imdb-metacritic-data-warehouse.

The reference is a 4-layer PostgreSQL Data Vault warehouse (raw → stg →
data_mart driven by a metadata registry; see /root/reference/ddl.py).
This package re-expresses the same capabilities Spark-first:

- ``session``    — SparkSession factory (AQE, shuffle sizing, UTC).
- ``registry``   — the metadata plane (column registry + table builders),
                   replacing ``meta.etl_col`` / ``meta.etl_tab_script``.
- ``sources``    — bronze schemas/readers, versioned parquet tables and
                   their change feed, bucketed tables, z-order keys.
- ``functions``  — scalar helpers (hash keys, genre parsing, casts).
- ``operators``  — SCD2 merge, repair, snapshots, argmax, rank, dedup,
                   similarity, text analysis, multimodal plumbing.
- ``plans``      — the core (silver) and mart (gold) builders + runner.
- ``entry_queries`` — the registered queries, each with its DuckDB oracle.
"""

__version__ = "0.1.0"
