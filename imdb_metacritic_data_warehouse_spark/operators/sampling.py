"""Deterministic sampling & splits for training-data pipelines.

``df.sample()``/``sampleBy()`` draw from a per-partition RNG — results
change with partitioning, retries, and engine version, which is exactly
wrong for reproducible dataset curation.  These operators derive the
sampling decision from a *content hash* of a stable id column instead:

    bucket(id) = int(md5(id)[:8], 16) % 10_000   (uniform, engine-portable)

so membership is a pure function of the row — stable across reruns,
partitionings, engines (the DuckDB oracle computes the same buckets),
and incremental loads (new rows don't reshuffle old ones between
splits — the property that keeps a train/test split honest as the
corpus grows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 10_000


def hash_bucket(id_col: Column) -> Column:
    """Uniform bucket in [0, 10000) from the md5 of the id (8 hex chars
    → modulo bias 2^-19, vs a visible 6-vs-7/65536 skew with 4)."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long")
        % _BUCKETS
    ).cast("int")


def balanced_resample(df: DataFrame, id_col: str, strata_col: str) -> DataFrame:
    """Temperature-0.5 stratum rebalancing (the domain/language mixing
    step of corpus assembly): expected kept rows per stratum become
    proportional to √count instead of count, damping the head stratum
    without flattening to uniform — keep_rate(s) = √(min_count /
    count_s), so the rarest stratum keeps everything.

    The rates are DATA-DERIVED (one stratum-count aggregate, broadcast
    back — strata are few by definition) yet still deterministic: membership is the same
    content-hash bucket test.  √ of an exact integer ratio is correctly
    rounded in IEEE 754, and the bucket threshold floors it — both
    engines compute bit-identical thresholds, so the kept SET (not just
    aggregates of it) is engine-portable.  One aggregate + one
    broadcast join + one filter: scan-scale at 100 TB."""
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__cnt"))
    min_count = counts.agg(F.min("__cnt").alias("__min"))
    rates = counts.join(F.broadcast(min_count)).select(
        strata_col,
        F.floor(
            F.sqrt(F.col("__min").cast("double") / F.col("__cnt").cast("double"))
            * F.lit(_BUCKETS)
        )
        .cast("int")
        .alias("__thresh"),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(hash_bucket(F.col(id_col)) < F.col("__thresh"))
        .drop("__thresh")
    )


def stratified_topk_sample(
    df: DataFrame, id_col: str, strata_col: str, k: int
) -> DataFrame:
    """EXACT-k deterministic sample per stratum (fraction-based
    sampling only hits k in expectation — eval sets and per-class
    caps need exactly k): rank rows within each stratum by
    ``md5(id)`` (uniform, content-derived) and keep rank ≤ k.  Strata
    smaller than k are kept whole.  One window shuffle on the stratum
    key; no global sort, no rand().  Re-runs, retried tasks, and
    other engines agree on the exact row set."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    weight_col: str,
    target_shares: dict[str, float],
) -> DataFrame:
    """Downsample each stratum so the kept corpus's WEIGHT mix (tokens,
    usually) lands on ``target_shares`` — the domain-mixing step of
    training-set assembly when the recipe says "50% web, 30% books,
    20% wiki" but the raw corpus doesn't.

    Never upsamples: the total is set by the BINDING stratum — budget =
    min_s(W_s / share_s), the largest total for which every stratum can
    still supply its share — and every other stratum thins to
    ``rate_s = share_s · budget / W_s`` (the binding stratum keeps
    everything).  Rates are data-derived (one stratum-weight aggregate,
    broadcast back) but membership is the content-hash bucket test, so
    the kept SET is deterministic and engine-portable: every rate is a
    single IEEE division/multiplication of exact integer sums and
    literal shares (correctly rounded, identical on any engine) and the
    bucket threshold floors it.  Strata absent from ``target_shares``
    are dropped.  One aggregate + one broadcast join + one filter —
    scan-scale at 100 TB.  Rows keep their columns; ``__thresh`` is
    internal."""
    smap = F.create_map(
        *[F.lit(x) for kv in target_shares.items() for x in kv]
    )
    totals = df.groupBy(strata_col).agg(F.sum(F.col(weight_col)).alias("__w"))
    per = totals.select(
        strata_col, "__w", F.element_at(smap, F.col(strata_col)).alias("__share")
    ).filter(F.col("__share").isNotNull())
    budget = per.agg(
        F.min(F.col("__w").cast("double") / F.col("__share")).alias("__budget")
    )
    rates = per.join(F.broadcast(budget)).select(
        strata_col,
        F.floor(
            F.least(
                F.lit(1.0),
                F.col("__share") * F.col("__budget") / F.col("__w").cast("double"),
            )
            * F.lit(_BUCKETS)
        )
        .cast("int")
        .alias("__thresh"),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(hash_bucket(F.col(id_col)) < F.col("__thresh"))
        .drop("__thresh")
    )


def hash_split(
    df: DataFrame, id_col: str, weights: dict[str, float]
) -> dict[str, DataFrame]:
    """Disjoint named splits (e.g. {'train': .9, 'test': .1}) by hash
    range; weights must sum to ≤ 1."""
    out: dict[str, DataFrame] = {}
    lo = 0
    b = hash_bucket(F.col(id_col))
    for name, w in weights.items():
        hi = lo + int(w * _BUCKETS)
        out[name] = df.filter((b >= lo) & (b < hi))
        lo = hi
    return out


def pps_sample(df: DataFrame, id_col: str, weight_col: str, rate: float) -> DataFrame:
    """Probability-proportional-to-size (Poisson/PPS) sampling: include
    each row independently with probability ``min(1, rate · weight)`` —
    the survey-sampling primitive behind importance-weighted corpus
    thinning (keep long documents more often, but keep SOME of
    everything; an unbiased estimator reweights by 1/p downstream).

    Membership is deterministic integer math, never rand(): u =
    first 12 md5 hex chars of the id (uniform 48-bit int) is compared
    against ``floor(rate · weight · 2^48)``.  rate·weight is one IEEE
    double multiply of a literal and an exact integer (correctly
    rounded, identical on any engine), the 2^48 scale is exact, and
    floor is exact — so the kept SET is engine-portable, stable across
    reruns/retries/partitionings, and incremental (new rows don't
    change old decisions).  Zero shuffles: a pure per-row filter,
    scan-scale at 100 TB."""
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    thresh = F.floor(
        F.lit(rate) * F.col(weight_col).cast("double") * F.lit(float(2**48))
    ).cast("long")
    return df.filter(u < thresh)
