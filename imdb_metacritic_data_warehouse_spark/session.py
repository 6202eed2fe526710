"""SparkSession factory.

The reference delegates all planning to PostgreSQL (SURVEY.md §4.1); here
the equivalent decision is "let Catalyst + AQE plan everything" and pin
only the confs that matter for correctness parity and local/cluster
performance:

- AQE on (runtime coalesce, skew-join splitting, auto broadcast).
- ``spark.sql.shuffle.partitions`` sized to cores for local mode; on a
  real cluster AQE coalesces the default upward-sized value anyway.
- UTC session timezone (the DuckDB oracle compares naive-UTC timestamps).
- ANSI off, pinned explicitly: failed casts yield NULL.  The reference
  would *crash* on e.g. ``''::bigint`` (SURVEY.md §7.4); NULL-on-bad-cast
  is the deliberate, documented divergence and matches DuckDB TRY_CAST.

Two defaults cut the fixed driver cost every plan pays, without changing
any plan, result or shuffle (measured on a 4-vCPU host, see CHANGES.md):

- ``spark.python.sql.dataFrameDebugging.enabled=false``.  PySpark 4.1
  otherwise wraps every ``functions``/``Column`` call in a stack walk
  plus ~10 extra py4j round trips to record the Python call site:
  ``F.col("x").cast("string").alias("y")`` sends 35 py4j commands with
  it and 5 without; a perfbench ``elt_history`` pass's plan builds send
  12.3k against 5.7k.  PySpark reads the flag once per process, at the
  first Column call, so it must be set here before any plan is built.
  The cost: DataFrame error messages no longer name the Python line
  that built the failing expression.  While debugging, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to a fresh process to get it back.
- ``spark.sql.codegen.cache.maxEntries=1024`` (Spark's default is 100).
  One ELT merge sweep alone needs ~340 generated classes, so at 100
  entries Janino recompiled 681 per two-batch ``elt_history`` pass and
  55-78 per ``light_queries`` pass, though those plans never change;
  at 1024 it compiles 198 and 4.  A full 3-batch ELT run has ~495
  distinct classes, so 1024 leaves about 2x headroom.  The cache is
  JVM-wide and sized at the JVM's first codegen, so this holds for the
  JVMs ``get_spark`` starts, not for a foreign session's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Every CPU this process may run on, unless SPARK_GRAFT_CPUS overrides it.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of MemTotal (at least 1g)."""
    if mem := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return mem
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, kb // 2 // 2**20)}g"


# Confs the engine's semantics DEPEND on (not tuning): Spark 4 defaults
# ANSI mode ON, which makes ''::bigint crash exactly like the reference's
# PostgreSQL — our documented semantics are NULL-on-bad-cast (SURVEY.md
# §7.4), and the oracle comparison needs UTC timestamps.  These are
# runtime-settable, so callers that receive a foreign SparkSession (the
# driver's, a notebook's) route through ensure_engine_confs().
_SEMANTIC_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    for k, v in _SEMANTIC_CONFS.items():
        spark.conf.set(k, v)
    return spark


def get_spark(
    app_name: str = "imdb_metacritic_dw_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-aware defaults.

    The same conf set is what we would ship on a 1000-executor cluster,
    minus ``master``/``driver.memory`` which the cluster manager owns.
    """
    n = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem())
        # Wide-vector expressions (a 64-dim dot product is ~70 codegen
        # ops) push whole-stage-codegen's processNext() past the JVM
        # JIT's 8 KB bytecode ceiling, and HotSpot then INTERPRETS the
        # hottest method in the plan (measured 5× on knn_graph's
        # scoring stage; see NOTES.md).  This flag lifts that ceiling.
        # On a real cluster it belongs in executor.extraJavaOptions
        # too; in local mode driver == executor.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # per-plan driver overhead, see the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in {**_SEMANTIC_CONFS, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def generated_class_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this session's JVM so far (code
    cache misses; a hit compiles nothing)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
