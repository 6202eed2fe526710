"""Count-min sketch — mergeable heavy-hitter counting for streams and
100 TB fact tables.

A CMS is a ``d × w`` grid of counters; each occurrence of a key
increments one counter per row (``bucket = h_seed(key) % w``); the
estimate for a key is the MIN over its ``d`` counters, which
overestimates by at most ``ε·N`` (``ε = e/w``) with probability
``1 − δ`` (``δ = e^{-d}``) — the classic Cormode-Muthukrishnan bound.

Spark-first shape: the grid is a (seed, bucket) → count aggregate.
The per-row ``d``-way expansion happens map-side and is immediately
collapsed by partial aggregation (hash-agg combine), so the shuffle
carries at most ``d·w`` rows PER TASK no matter how many fact rows the
task scanned — the same reason the sketch works as streaming state.
Counters are exact integers, so the sketch (and the min-estimate) is
bit-reproducible on any engine that shares the hash; we hash with
md5-derived 60-bit ints (the repo-wide engine-portable hash family,
``operators/dedup.py:299``), never ``xxhash64`` (Spark-private).

Reference parity: the reference has no sketches at all (it COUNT(*)s
postgres tables, e.g. ``mart/genre_metrics.sql``); this is part of the
100 TB extension surface, paired with an exact-count audit query so
the error contract is oracle-checkable rather than asserted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HLL_P = 8  # hll_register_maxes: 2^8 registers per group
_HLL_SEED = 4242


def _bucket(key: Column, seed: int, width: int) -> Column:
    """Engine-portable bucket hash: first 60 bits of md5(seed:key).

    DuckDB twin: ``CAST(CONCAT('0x', substr(md5(seed || ':' || key),
    1, 15)) AS BIGINT) % width``.

    ``F.concat``, never ``concat_ws``: concat_ws SKIPS NULLs, so a
    NULL key would silently hash as just ``"<seed>:"`` and land in a
    real bucket, while the DuckDB twin's ``||`` propagates NULL — the
    exact cross-engine divergence ADVICE r5 flagged for the HLL twin
    (fixed in ``hll_register_maxes``).  With concat, a NULL key yields
    a NULL bucket;
    both sketch entry points below then apply the explicit NULL-key
    policy (drop on build, estimate 0 on probe) so the two engines
    agree row-for-row even on nullable key columns.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return (h % width).cast("int")


def count_min_sketch(
    df: DataFrame,
    key: Column,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Build the sketch grid: one row per touched (seed, bucket) cell.

    ``explode`` fans each fact row into ``depth`` cell increments, but
    the immediately following groupBy collapses them map-side — the
    exchange after partial aggregation is ≤ depth·width rows per task.

    NULL-key policy: rows with a NULL key are DROPPED before hashing
    (explicit filter), matching the DuckDB twin where ``seed||':'||key``
    propagates NULL and the NULL bucket never matches a probe.
    """
    df = df.filter(key.isNotNull())
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        _bucket(key, s, width).alias("bucket"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("c"),
        F.lit(1).cast("long").alias("__w"),
    )
    return (
        cells.groupBy(F.col("c.seed").alias("seed"), F.col("c.bucket").alias("bucket"))
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 64,
    out_col: str = "est",
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: est = MIN over
    the key's ``depth`` counters.  The sketch is grid-sized (≤ d·w
    rows) → broadcast; the probe never shuffles ``keys``.

    A key whose bucket cell is absent from the sketch (possible only
    when the key itself was never inserted) estimates 0 via coalesce.
    NULL-key policy: a NULL probe key hashes to a NULL bucket (see
    ``_bucket``), matches nothing, and estimates 0 — the same answer
    the DuckDB twin gives, since its NULL bucket joins no cell.
    """
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        _bucket(F.col(key_col), s, width).alias("bucket"),
                    )
                    for s in range(depth)
                ]
            )
        ).alias("p"),
    )
    joined = probes.join(
        F.broadcast(sketch),
        (F.col("p.seed") == F.col("seed")) & (F.col("p.bucket") == F.col("bucket")),
        "left",
    )
    group_cols = [c for c in keys.columns]
    return joined.groupBy(*group_cols).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col)
    )


def hll_register_maxes(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
) -> DataFrame:
    """HyperLogLog register table — per group, the 2^_HLL_P bucket maxima
    M_j of the leading-zero rank, built from the engine-portable md5
    hash family (Flajolet et al. 2007; no engine-private hash, unlike
    ``approx_count_distinct``'s private HLL++).

    Hash layout per key: a 60-bit integer u of md5("_HLL_SEED:key");
    the top ``_HLL_P`` bits pick the bucket, the remaining
    ``w = 60 − _HLL_P`` bits feed the rank
    ``rho = w + 1 − bitlength(rest)`` (``w + 1`` when rest = 0).
    ``bitlength`` is ``length(bin(x))`` — an exact integer in both
    Spark and DuckDB, never a float log2 (which rounds wrong at exact
    powers of two).  The output is pure integers, so the whole sketch
    is bit-reproducible cross-engine — the estimate itself is
    hash-checkable, not merely banded.

    Scale shape: one hash + groupBy(group, bucket) MAX — map-side
    combine collapses each task to ≤ groups·2^p rows before the
    shuffle, the same mergeability that makes HLL the standard
    distributed distinct sketch (registers OR/MAX-merge across any
    partitioning)."""
    w = 60 - _HLL_P
    # F.concat, not concat_ws: concat_ws SKIPS NULLs (a NULL key would
    # hash as just "<seed>:"), while the DuckDB oracle's `'seed:' || key`
    # propagates NULL — cross-engine divergence for any nullable
    # key_col (ADVICE r5).  concat propagates NULL, so a NULL key
    # yields a NULL hash → NULL bucket, filtered here.  NOTE (ADVICE
    # r6): DuckDB's GROUP BY would still FORM a (bucket NULL, mj NULL)
    # register row from the NULL hash, so the oracle templates carry an
    # explicit `WHERE key IS NOT NULL` to mirror this row-drop — both
    # engines then agree even when key_col is nullable (pinned by
    # tests/test_sketch_nullable_keys.py).
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{_HLL_SEED}:"), F.col(key_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    bucket = F.expr(f"__hll_u div {2 ** w}").alias("bucket")
    rest = (F.col("__hll_u") % F.lit(2 ** w)).alias("rest")
    tagged = (
        df.select(*group_cols, h.alias("__hll_u"))
        .filter(F.col("__hll_u").isNotNull())
        .select(*group_cols, bucket, rest)
    )
    rho = F.when(F.col("rest") == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(F.col("rest")))
    )
    return (
        tagged.select(*group_cols, "bucket", rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("mj"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """HLL estimate from a register table, with the standard
    small-range (linear counting) correction.

    Exactness discipline: the harmonic denominator Σ 2^{−M_j} is
    rescaled by 2^{w+1} so every term 2^{w+1−M_j} is an INTEGER
    (M_j ≤ w+1) — the sum is an exact bigint (≤ 2^p·2^{w+1} = 2^61
    · 2^{p−60+p}… for p = _HLL_P = 8, ≤ 256·2^53 = 2^61), immune to float
    summation order; only the final one-shot double expression (shared
    verbatim with the oracle) leaves integer land."""
    m = 2 ** _HLL_P
    w = 60 - _HLL_P
    scale = w + 1
    per_group = registers.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale} - mj)")).alias("s_used"),
        F.count(F.lit(1)).alias("n_used"),
    )
    # empty buckets contribute 2^scale each to the rescaled sum
    s_total = F.col("s_used") + (F.lit(m) - F.col("n_used")) * F.lit(2 ** scale)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(2 ** scale))
        / F.col("s_total").cast("double")
    )
    v = F.lit(m) - F.col("n_used")  # zero-valued registers
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0), linear).otherwise(raw)
    return per_group.withColumn("s_total", s_total).select(
        *group_cols, F.round(est, 4).alias("hll_estimate")
    )


def hll_merge_registers(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge two HLL register tables by bucket-wise MAX — the property
    that makes HLL the distributed/incremental distinct sketch: union
    register tables from any partitioning of the data (daily batches,
    per-executor partials, stored + new) and the merged sketch equals
    the one built over the union in one pass, EXACTLY."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("mj").alias("mj"))
    )
