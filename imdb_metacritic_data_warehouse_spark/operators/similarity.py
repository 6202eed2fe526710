"""Similarity search over embedding columns (``array<float>``).

Two tiers, same output contract (query_id, vec_id, score, rank):

- ``cosine_topk``      — brute-force exact: broadcast the (small) query
  set against the corpus; per-row dot product with ``zip_with`` +
  ``aggregate`` entirely JVM-side.  O(|Q|·N) — the right baseline, and
  at 100 TB still the right choice for small |Q| because it is one
  broadcast scan with no shuffle until the final per-query top-k.
- ``lsh_bucketed_topk`` — random-hyperplane LSH: ±1 hyperplanes derived
  deterministically from md5 parity, sign-bit bucket per vector; only
  bucket-colliding (query, candidate) pairs get exact scoring.  Recall
  < 1 by construction; the scale path when |Q| is large.

Determinism: dot products accumulate left-to-right in double precision
(both here and in the DuckDB oracle), scores round to 6 dp, ranking
ties break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from .materialize import materialize

# Every operator here reads the ``embeddings`` shape: ``vec_id`` long
# keys and ``embedding`` arrays of _DIMS doubles.
_DIMS = 64
_IVF_SEED = 42  # ivf_index's k-means seed
_SAMPLED_K = 10  # ivf_sampled_topk's k and number of sampled cells
_SAMPLED_LISTS = 16
_LSH_PLANES = 4  # lsh_bucketed_topk's hyperplanes per table, and tables
_LSH_TABLES = 8
_PQ_BLOCKS = 4  # pq_codes' subvectors per vector, and codebook size
_PQ_CODES = 8
_JL_DIMS = 16  # jl_project's output width and its planes' first seed
_JL_SEED = 7000
_POWER_ITERS = 3  # gram_power_iteration rounds
_CKA_SCALE = 10**4  # cka_grids' metric grid


def _dot(a, b):
    """Sequential double-precision dot product (order-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_codegen(a: str, b: str, dims: int = 64) -> F.Column:
    """Codegen dot product for KNOWN-width vectors: an explicit indexed
    sum ``0.0 + a[0]*b[0] + a[1]*b[1] + ...`` parsed JVM-side in one
    ``F.expr``.  ``_dot``'s ``aggregate(zip_with(...))`` is a
    higher-order function — Spark interprets the lambda per element, and
    on a candidate-pair hot path (|pairs| × dims interpreted closures)
    it dominated ``knn_graph``'s runtime.  The Add chain is
    left-associative, so the fold order (and hence every last-ulp
    double) is IDENTICAL to ``_dot`` starting from 0.0 — oracle parity
    is unchanged.  Only valid when every array has exactly ``dims``
    elements (a short array would turn the whole sum NULL rather than
    silently truncating, which is the safer failure)."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(dims)
    )
    return F.expr(f"0.0D + {terms}")


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dims: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (vectors are
    unit-norm in the test corpus, so dot = cosine; self-matches
    excluded).

    ``dims``: when the vector width is KNOWN, pass it so the |Q|·N hot
    path scores with :func:`dot_codegen` (whole-stage codegen indexed
    sum) instead of ``_dot``'s interpreted per-element higher-order
    lambda — the same swap that fixed ``knn_graph`` (r7); fold order
    and hence every double is identical.  Leave None for unknown-width
    inputs (falls back to the interpreted path)."""
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("cv"))
    dot = (
        dot_codegen("qv", "cv", dims=dims)
        if dims is not None
        else _dot(F.col("qv"), F.col("cv"))
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(dot, 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def _plane_weights(plane: int, dims: int) -> list[float]:
    """±1 hyperplane components, md5-parity-derived: deterministic and
    engine-independent, but computed ONCE on the driver (a per-row md5
    per component was measured 10× slower — the weights don't depend on
    data, so they belong in the plan as literals)."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{i}#{plane}".encode()).hexdigest()[0] in "02468ace" else -1.0
        for i in range(dims)
    ]


def ivf_index(
    embeddings: DataFrame,
    n_lists: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: a seeded k-means coarse quantizer
    (``pyspark.ml``) partitions the corpus into ``n_lists`` cells (at
    100 TB the model is fit once on a sample and persisted; here it is
    fit inline).  Returns ``(assigned, centroids)`` — the per-vector
    cell assignment and the (tiny, broadcastable) centroid table — so
    query paths AND audit paths share ONE fit instead of re-running
    k-means per consumer."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))
    ml = vecs.withColumn(
        "features",
        array_to_vector(F.transform("v", lambda x: x.cast("double"))),
    )
    model = KMeans(
        k=n_lists, seed=_IVF_SEED, featuresCol="features", predictionCol="cell"
    ).fit(ml)
    assigned = model.transform(ml).select("vec_id", "v", "cell")

    centroids = model.clusterCenters()  # n_lists × dims — plan literals
    spark = embeddings.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, cv array<double>",
    )
    return assigned, cdf


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 2,
    index: tuple[DataFrame, DataFrame] | None = None,
    dims: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN — the cluster-pruned scale path.

    Query: each query vector is scored only against vectors in its
    ``n_probe`` nearest cells — candidate set ~ n_probe/n_lists of the
    corpus instead of all of it.  Cell routing is declarative: the
    (tiny) centroid table is broadcast and rank-filtered, no driver
    loop.  Output contract matches ``cosine_topk``: (query_id, vec_id,
    score, rank); recall < 1 by construction (neighbors in unprobed
    cells are missed) — the ``ann_ivf`` entry audits this with banded
    verdicts (recall@k floor vs the brute-force twin + structural
    invariants), so the k-means path has a hashable contract."""
    assigned, cdf = index if index is not None else ivf_index(embeddings, n_lists=n_lists)
    q = assigned.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # route each query to its n_probe nearest cells (|Q| × n_lists rows)
    dist2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a.cast("double") - b) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probed = (
        q.join(F.broadcast(cdf))
        .select("query_id", "qv", "cell", dist2.alias("d2"))
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    candidates = (
        F.broadcast(probed)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    # candidate scoring is the |Q|·(n_probe/n_lists)·N hot path — same
    # codegen swap as cosine_topk (r10) when the width is known; fold
    # order unchanged, interpreted fallback for unknown widths.
    _sc = dot_codegen("qv", "v", dims=dims) if dims is not None else _dot(
        F.col("qv"), F.col("v")
    )
    scored = candidates.select(
        "query_id",
        "vec_id",
        F.round(_sc, 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def ivf_sampled_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    n_probe: int = 2,
    dims: int | None = None,
) -> DataFrame:
    """IVF ANN with a *deterministic sampled quantizer*: centroids are
    the first ``_SAMPLED_LISTS`` corpus vectors (by id) instead of k-means
    means.  Identical IVF structure to ``ivf_topk`` — cell assignment
    by nearest centroid, queries probe ``n_probe`` nearest cells, exact
    scoring only inside probed cells — but every step is a pure
    function of the data, so the whole index is SQL-expressible and the
    driver value-checks it end-to-end (k-means IVF can only be
    rows-checked; this variant proves the cell/probe machinery).

    Plan shape: centroids broadcast (tiny), assignment = one map-side
    combined groupBy(vec) over the N×_SAMPLED_LISTS distance rows, probe
    routing over |Q|×_SAMPLED_LISTS rows, candidates bucket-bounded by cell.
    Distances round to 6 dp before argmin (both engines) so float
    summation order can't flip a cell choice.  Keeps the top
    ``_SAMPLED_K`` per query."""
    vecs = embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))
    cent = vecs.filter(F.col("vec_id") < _SAMPLED_LISTS).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("cv")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("v"),
                F.col("cv"),
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    dist = vecs.join(F.broadcast(cent)).select(
        "vec_id", "v", "cell", d2.alias("d2")
    )
    assigned = dist.groupBy("vec_id").agg(
        F.first("v").alias("v"),
        F.min_by("cell", F.struct("d2", "cell")).alias("cell"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probed = (
        dist.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell", "d2")
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    _sc = dot_codegen("qv", "v", dims=dims) if dims is not None else _dot(
        F.col("qv"), F.col("v")
    )
    scored = (
        F.broadcast(probed)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(_sc, 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SAMPLED_K)
        .select("query_id", "vec_id", "score", "rank")
    )


def _sign_buckets(
    embeddings: DataFrame,
    n_planes: int,
    n_tables: int,
    with_vectors: bool = True,
) -> DataFrame:
    """(vec_id, v, tbl, bucket) for every hash table, fully codegen'd
    (``with_vectors=False`` drops the trailing vector join and returns
    only (vec_id, tbl, bucket) — callers that dedup candidate PAIRS
    before scoring want id-only rows through that shuffle).

    A per-plane ``aggregate(zip_with(...))`` sign is a higher-order
    function — Spark interprets its lambda per element, and n_tables ×
    n_planes separate chains made bucket assignment the dominant (and
    jittery) cost.  Here: ONE ``posexplode`` of the vector, then a
    single groupBy(vec_id) computing all projections as plain
    ``sum(x · element_at(weights, pos))`` aggregates against literal
    weight arrays — whole-stage codegen with map-side partial
    aggregation, one shuffle of #tables×#planes doubles per vector."""
    # Each projection is ONE F.expr() so the 64-element weight array is
    # parsed JVM-side in a single round trip — composing it from
    # F.lit()s costs ~2k Py4J calls and made plan CONSTRUCTION (not
    # execution) the dominant cost of the whole operator (measured
    # ~1.9s steady-state, ~3× the execution time, at 8 tables × 4
    # planes × 64 dims).
    def _proj_expr(t: int, p: int) -> F.Column:
        arr = ",".join(f"{w:.1f}D" for w in _plane_weights(t * 1000 + p, _DIMS))
        return F.expr(f"sum(x * element_at(array({arr}), pos + 1))").alias(f"s_{t}_{p}")

    projs = [_proj_expr(t, p) for t in range(n_tables) for p in range(n_planes)]
    per_vec = (
        embeddings.select(
            F.col("vec_id").alias("vec_id"),
            F.posexplode(F.col("embedding")).alias("pos", "x"),
        )
        .groupBy("vec_id")
        .agg(*projs)
    )

    def bucket(t: int):
        return F.concat(
            *[
                F.when(F.col(f"s_{t}_{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
                for p in range(n_planes)
            ]
        )

    tables = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), bucket(t).alias("bucket"))
            for t in range(n_tables)
        ]
    )
    tb = per_vec.select("vec_id", F.explode(tables).alias("tb")).select(
        "vec_id", "tb.tbl", "tb.bucket"
    )
    if not with_vectors:
        return tb
    vecs = embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))
    return tb.join(vecs, "vec_id")


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus (every vector is a
    query) — the substrate for SemDeDup-style semantic dedup and
    graph-based clustering.  Candidates are bucket collisions in any
    of ``n_tables`` sign-bit LSH tables, so the pair count is
    Σ_buckets |bucket|² instead of N²; more planes → smaller buckets →
    fewer, more precise candidates (recall traded per table, recovered
    across tables).

    Plan: ONE bucket-assignment scan (``_sign_buckets``: posexplode +
    codegen projections), ID-ONLY self-join on (table, bucket) — the
    join AQE skew-splits if a bucket runs hot — pair dedup across
    tables on bare (src, dst) longs, THEN the vectors join back in for
    exact codegen dot scoring and the per-source top-k window.  Keeping
    the vectors out of the collision join + dedup shuffles matters: a
    pair row carrying both embeddings is 2·dims doubles (~1 KB at 64
    dims) vs 16 bytes for the id pair — at 100 TB that is the
    difference between shuffling candidate IDs and re-shuffling a
    multiple of the corpus.  The two vector re-joins hash-partition on
    vec_id and are candidate-bounded; locally Catalyst broadcasts the
    embedding scan.  Output: (src, dst, score, rank)."""
    b = _sign_buckets(embeddings, n_planes, n_tables, with_vectors=False)
    left = b.select(F.col("vec_id").alias("src"), "tbl", "bucket")
    right = b.select(F.col("vec_id").alias("dst"), "tbl", "bucket")
    cand = (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    vecs = embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))
    scored = (
        cand.join(
            vecs.select(F.col("vec_id").alias("src"), F.col("v").alias("sv")), "src"
        )
        .join(vecs.select(F.col("vec_id").alias("dst"), F.col("v").alias("dv")), "dst")
        .select("src", "dst", F.round(dot_codegen("sv", "dv"), 6).alias("score"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "score", "rank")
    )


def pq_codes(embeddings: DataFrame) -> DataFrame:
    """Product-quantization encoding — the IVF-PQ compression standard:
    each vector splits into ``_PQ_BLOCKS`` subvectors and every block is
    replaced by the id of its nearest codebook entry, so a 64-float
    vector stores as ``_PQ_BLOCKS`` small ints (asymmetric-distance
    search decodes against the codebook, never the original floats).

    Codebooks use the *deterministic sampled quantizer* rule of
    ``ivf_sampled_topk`` — block b's codebook is the b-slices of the
    first ``_PQ_CODES`` corpus vectors — so the whole encoding is a pure
    function of the data and the driver value-checks codes AND
    reconstruction error against the SQL oracle (a k-means codebook
    could only be rows-checked).  Swapping trained centroids in changes
    one frame.

    Plan shape: block explode (N×_PQ_BLOCKS rows, codegen slice), one
    BROADCAST of the _PQ_BLOCKS×_PQ_CODES codebook, per-(vec, block) argmin
    via ``min(struct(d2, code))`` (lexicographic — ties break on code,
    both engines), then one groupBy(vec) pivots codes to columns.
    Distances round to 6 dp before the argmin so float fold order can't
    flip a code.  Output: (vec_id, code_0..code_{B−1}, mse)."""
    bs = _DIMS // _PQ_BLOCKS
    vecs = embeddings.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))

    def blocks(col):
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("block"),
                    F.slice(col, b * bs + 1, bs).alias("pv"),
                )
                for b in range(_PQ_BLOCKS)
            ]
        )

    pb = vecs.select("vec_id", F.explode(blocks(F.col("v"))).alias("s")).select(
        "vec_id", "s.block", "s.pv"
    )
    cb = (
        vecs.filter(F.col("vec_id") < _PQ_CODES)
        .select(
            F.col("vec_id").cast("int").alias("code"),
            F.explode(blocks(F.col("v"))).alias("s"),
        )
        .select("code", "s.block", F.col("s.pv").alias("cv"))
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("pv"),
                F.col("cv"),
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    dist = pb.join(F.broadcast(cb), "block").select(
        "vec_id", "block", "code", d2.alias("d2")
    )
    per_block = dist.groupBy("vec_id", "block").agg(
        F.min(F.struct("d2", "code")).alias("m")
    )
    return per_block.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("block") == b, F.col("m.code")))
            .cast("int")
            .alias(f"code_{b}")
            for b in range(_PQ_BLOCKS)
        ],
        # mse rounds at 12 dp, NOT 6: block d2's are rounded-6, so
        # Σd2/64 = k·15625·10⁻¹² — an EXACT 12-digit decimal, but at
        # 6 dp its 7th digit is exactly 5 whenever k ≡ 32 (mod 64),
        # i.e. a systematic 1-in-64 half-way tie where Spark's
        # BigDecimal HALF_UP and DuckDB's float rounding disagree
        # (bit the sf0.01 sweep on one row).  At 12 dp the true value
        # is representable and no tie can occur.
        F.round(F.sum("m.d2") / F.lit(float(_DIMS)), 12).alias("mse"),
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization audit — the compression step
    before an embedding corpus ships to an ANN index (4× smaller than
    float32), plus the reconstruction-error stats that decide whether
    int8 is acceptable for the collection.

    Per vector: ``scale = max|v| / 127``, ``q_i = floor(v_i/scale + ½)``
    (round-half-up — engine-portable, unlike banker's rounding which
    Spark and DuckDB disagree on), dequantized error ``|v_i − q_i·s|``.
    An all-zero vector quantizes to zeros (scale 0 guarded).

    Plan: single scan, zero shuffle; the per-element work is
    higher-order-function lambdas (interpreted — acceptable: this is a
    once-per-ingest cold path, and the alternative posexplode adds the
    shuffle this op exists to avoid).  Error SUMS are order-sensitive
    in the last ulp, so they surface only under round(·, 6) (NOTES.md
    float-parity rule).  Output: (vec_id, scale, n_saturated,
    mean_abs_err, max_abs_err)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    staged = embeddings.select(
        F.col("vec_id").alias("vec_id"),
        v.alias("__v"),
        (F.array_max(F.transform(v, F.abs)) / F.lit(127.0)).alias("__s"),
    )
    q = F.when(
        F.col("__s") > 0,
        F.transform(F.col("__v"), lambda x: F.floor(x / F.col("__s") + F.lit(0.5))),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0).cast("bigint")))
    staged = staged.select("vec_id", "__v", "__s", q.alias("__q"))
    errs = F.zip_with(
        F.col("__v"), F.col("__q"), lambda x, qq: F.abs(x - qq * F.col("__s"))
    )
    return staged.select(
        "vec_id",
        F.round(F.col("__s"), 6).alias("scale"),
        F.size(F.filter(F.col("__q"), lambda qq: F.abs(qq) >= 127)).alias(
            "n_saturated"
        ),
        F.round(
            F.aggregate(errs, F.lit(0.0), lambda acc, x: acc + x)
            / F.size(F.col("__v")),
            6,
        ).alias("mean_abs_err"),
        F.round(F.array_max(errs), 6).alias("max_abs_err"),
    )


def centroid_outliers(
    embeddings: DataFrame,
    dims: int | None = None,
) -> DataFrame:
    """Embedding diagnostics: cosine of every vector to its own label's
    centroid, plus an in-label outlier rank (ascending cosine) — the
    standard audit for mislabeled / off-cluster rows before embeddings
    feed a training mix.

    Plan shape: centroid elements come from ONE ``posexplode`` +
    groupBy(label, pos) — but each element must be an ORDER-STABLE sum
    (a plain ``avg`` accumulates in partition order, which differs
    between engines and runs, and a last-ulp drift here would move
    every downstream cosine): values fold left-to-right sorted by
    vec_id via ``array_sort(collect_list(struct(...)))``.  Centroid
    groups are |labels|·dims — tiny — so the collect_list is bounded by
    rows-per-label, and the rebuilt centroid table broadcasts to the
    per-vector cosine join.  Centroid self-norms are computed once in
    the centroid frame, not per pair (the ``embedding_neardup`` norm
    lesson).  Output: (vec_id, label, cos_centroid, outlier_rank)."""
    ex = embeddings.select(
        F.col("vec_id").alias("vec_id"),
        F.col("label").alias("label"),
        F.posexplode(F.col("embedding")).alias("pos", "x"),
    )
    # order-stable mean: fold doubles sorted by vec_id, then divide once
    elem = ex.groupBy("label", "pos").agg(
        (
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("vec_id").alias("vec_id"),
                            F.col("x").cast("double").alias("x"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["x"],
            )
            / F.count(F.lit(1))
        ).alias("c")
    )
    cent = (
        elem.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
        .select("label", "cv", _dot(F.col("cv"), F.col("cv")).alias("cc"))
    )
    vecs = embeddings.select(
        F.col("vec_id").alias("vec_id"),
        F.col("label").alias("label"),
        F.col("embedding").alias("v"),
    )
    # per-vector cosine is the N-row hot path — codegen dot when the
    # width is known (r10), interpreted fallback otherwise; the
    # label-dimension self-norm above stays interpreted (tiny).
    _dvc = dot_codegen("v", "cv", dims=dims) if dims is not None else _dot(
        F.col("v"), F.col("cv")
    )
    _dvv = dot_codegen("v", "v", dims=dims) if dims is not None else _dot(
        F.col("v"), F.col("v")
    )
    scored = vecs.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(
            _dvc / (F.sqrt(_dvv) * F.sqrt(F.col("cc"))),
            6,
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_centroid"), F.asc("vec_id"))
    return scored.withColumn("outlier_rank", F.row_number().over(w))


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dims: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    ``_LSH_TABLES`` independent sign-bit hashes of ``_LSH_PLANES`` bits:
    a candidate is scored iff it shares a bucket with the query in ≥1
    table (misses a cos-θ neighbor in all tables with prob.
    (1−(1−θ/π)^b)^L).  Plan: one scan
    assigns all buckets (``_sign_buckets``), explode over tables,
    shuffle on (table, bucket) — candidate sets stay bucket-bounded
    instead of O(N·|Q|)."""
    with_bucket = _sign_buckets(embeddings, _LSH_PLANES, _LSH_TABLES)
    # NB: deriving q from `with_bucket` (filter AFTER bucketing) looks
    # like a double computation, but the two branches share an identical
    # shuffle → Spark's ReusedExchange computes the bucket assignment
    # once.  A "smarter" pre-filtered query-side _sign_buckets measured
    # ~1.7× SLOWER (distinct subplan → no exchange reuse, extra codegen).
    q = with_bucket.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "tbl", "bucket",
    )
    candidates = (
        F.broadcast(q)
        .join(with_bucket, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qv", "vec_id", "v")
        .dropDuplicates(["query_id", "vec_id"])
    )
    _sc = dot_codegen("qv", "v", dims=dims) if dims is not None else _dot(
        F.col("qv"), F.col("v")
    )
    scored = candidates.select(
        "query_id",
        "vec_id",
        F.round(_sc, 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


GRAM_SCALE = 10**7  # quantization: finer than float32 ulp at |x|≈1 (6e-8·x)


def gram_upper_cells(df: DataFrame, scale: int = GRAM_SCALE) -> DataFrame:
    """Upper-triangle second-moment grid Σᵣ q(vᵣ[i])·q(vᵣ[j]) (1-based
    i ≤ j) over the ``embedding`` column, where q(x) = floor(x·scale + 0.5)
    — the substrate for covariance / whitening / PCA prep at corpus
    scale.  Consumers recover the real-valued Gram as sxy / scale².

    Accumulation is ORDER-FREE BY CONSTRUCTION (round-4 verdict task
    #1): components are quantized to int64 on a fixed grid, per-block
    partial Grams are exact integer matmuls, and the cross-partition
    sum runs in decimal(38,0) — associative/commutative exact
    arithmetic, so any partition layout (1 partition or 1000 executors)
    produces bit-identical cells.  The previous double-sum version
    differed in 1723/2080 cells across layouts.  floor(x·scale + 0.5)
    (not round()) is the shared quantizer because numpy rint is
    half-even while SQL round is half-away — floor+0.5 is the one
    expression all three engines (numpy / Spark / DuckDB) agree on.

    Scale shape: each block is reduced to ONE dim×dim partial Gram by a
    vectorized numpy integer matmul inside ``mapInPandas`` (a
    posexplode² expansion would materialize dim²·N rows through the
    shuffle; this materializes dim²·blocks).  Block size is bounded so
    int64 cannot overflow: rows_per_block · max|q|² ≤ 2⁶² — checked
    against the block's actual max, not an assumed input range.
    """
    import numpy as np
    import pandas as pd

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]],
                dtype=np.float64,
            )
            Q = np.floor(X * scale + 0.5).astype(np.int64)
            maxq = int(np.abs(Q).max()) or 1
            block = max(1, min(len(Q), (2**62) // (maxq * maxq)))
            iu = None
            for s in range(0, len(Q), block):
                B = Q[s : s + block]
                G = B.T @ B
                if iu is None:
                    iu = np.triu_indices(G.shape[0])
                yield pd.DataFrame(
                    {"i": iu[0] + 1, "j": iu[1] + 1, "sxy": G[iu]}
                )

    return (
        df.select("embedding")
        .mapInPandas(part, schema="i int, j int, sxy long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy"))
    )


def jl_project(df: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss random projection: ±1 hyperplane rows
    (md5-parity weights, plan literals — same derivation as the LSH
    planes) map ``embedding``'s _DIMS→_JL_DIMS components of ``proj``.
    For ±1 entries the expected squared distance scales by exactly
    ``_JL_DIMS``, so consumers
    normalize by it rather than baking 1/sqrt(k) into the weights.

    Zero shuffle: each output component is one codegen indexed sum, the
    whole projection is a per-row map — the cheap pre-pass that makes a
    downstream ANN/dedup pass 4× narrower at 100 TB.  Left-associative
    addition keeps every component bit-identical to an engine that
    folds sequentially (the DuckDB ``list_dot_product`` oracle)."""
    comps = []
    for j in range(_JL_DIMS):
        w = _plane_weights(_JL_SEED + j, _DIMS)
        terms = " + ".join(
            f"CAST(embedding[{i}] AS DOUBLE) * {w[i]}" for i in range(_DIMS)
        )
        comps.append(F.expr(f"0.0D + {terms}"))
    return df.withColumn("proj", F.array(*comps))


def gram_power_iteration(grid: DataFrame, dims: int) -> DataFrame:
    """Fixed-iteration power method on the EXACT integer Gram grid
    (``gram_upper_cells`` output) — the top-principal-component prep
    that makes the order-free Gram pay off: matrix entries are exact
    integers and the iterate lives on the integer micro-grid
    (vint = round(v·10⁶) ∈ [−10⁶, 10⁶]), so w = G·v is EXACT decimal
    arithmetic every round — decimal(25,0)·decimal(12,0) products stay
    inside decimal(38,0) by TYPE (no precision-loss rounding in either
    engine), and the only float op per round is the one shared
    normalize-and-round expression.  An unrolled SQL oracle is a
    bit-identical twin.

    Per iteration: densify the upper triangle to both (i,j) and (j,i)
    cells, one broadcast join against the dim-sized iterate, exact
    w = G·vint, then vint' = round(w/max|w|·10⁶) (never a float
    sqrt).  Everything after the corpus-sized Gram build is dim²-sized
    — each round costs O(dims²) regardless of row count.

    Returns (i, vint, wi) after ``_POWER_ITERS`` rounds: the micro-grid
    iterate plus its final exact matrix-vector image, from which the
    caller derives loadings (vint/10⁶) and the Rayleigh quotient."""
    full = materialize(grid.select("i", "j", "sxy").unionByName(
        grid.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "sxy"
        )
    ), "gram_power_iteration.full")
    # Exactness guard (ADVICE r5): the matvec casts sxy down to
    # decimal(25,0) so the product stays within precision 38 BY TYPE —
    # but Spark's non-ANSI overflowing cast returns NULL silently
    # (DuckDB raises), so |sxy| ≥ 1e25 (~1e11 rows of unit-scale
    # embeddings) would silently drop cells from the matvec.  The grid
    # is dim²-sized, so this one exact aggregate is O(dims²) driver-side
    # cost — fail loudly instead of diverging.
    _mx = full.agg(F.max(F.abs(F.col("sxy"))).alias("m")).collect()[0]["m"]
    if _mx is not None and int(_mx) >= 10**25:
        raise ValueError(
            f"gram_power_iteration: max|sxy| = {_mx} exceeds decimal(25,0); "
            "the exact-by-TYPE matvec no longer fits precision 38 — reduce "
            "the quantization scale or shard the corpus"
        )
    spark = grid.sparkSession
    v = spark.range(1, dims + 1).select(
        F.col("id").cast("int").alias("j"),
        F.lit(1000000).cast("bigint").alias("vint"),
    )

    def matvec(vcur: DataFrame) -> DataFrame:
        return (
            full.join(F.broadcast(vcur), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("sxy").cast("decimal(25,0)")
                    * F.col("vint").cast("decimal(12,0)")
                ).alias("wi")
            )
        )

    for _ in range(_POWER_ITERS):
        w = matvec(v)
        mx = w.agg(F.max(F.abs(F.col("wi"))).alias("mx"))
        v = w.crossJoin(F.broadcast(mx)).select(
            F.col("i").alias("j"),
            F.round(
                F.col("wi").cast("double")
                / F.col("mx").cast("double")
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("vint"),
        )
    final_w = matvec(v)
    return v.select(F.col("j").alias("i"), "vint").join(final_w, "i")


def cka_grids(
    df: DataFrame,
    quant_levels: int = 127,
) -> DataFrame:
    """Sufficient statistics for a linear-CKA comparison between an
    ``embedding`` column X and its int8 symmetric (de)quantization Y =
    round(x·L)/L: the three FULL integer Gram grids Gxx, Gxy
    (asymmetric), Gyy on the shared metric grid
    q(v) = floor(v·_CKA_SCALE + 0.5), plus per-dim column sums Sx/Sy —
    everything a centered ||·||_F needs, in ONE mapInPandas pass
    (posexplode² would push dim²·N rows through the shuffle; this
    ships dim²·blocks — the gram_upper_cells discipline).

    Output rows are tagged: grid ∈ {'xx','xy','yy'} with (i, j, s) 
    1-based, and grid ∈ {'sx','sy'} carrying column sums in (i, s)
    with j = 0.  All sums are exact integers accumulated in
    decimal(38,0) — layout-invariant by construction.  The coarse
    scale (1e4, vs the covariance grid's 1e7) keeps the
    downstream centered cells N·G − S·S inside decimal(38,0) to
    ~10⁴× the test corpus; the metric is DEFINED on this grid, so
    both engines quantize identically and coarseness is not error.
    """
    import numpy as np
    import pandas as pd

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]],
                dtype=np.float64,
            )
            Y = np.floor(X * quant_levels + 0.5) / quant_levels
            QX = np.floor(X * _CKA_SCALE + 0.5).astype(np.int64)
            QY = np.floor(Y * _CKA_SCALE + 0.5).astype(np.int64)
            maxq = int(max(np.abs(QX).max(), np.abs(QY).max())) or 1
            block = max(1, min(len(QX), (2**62) // (maxq * maxq)))
            d = QX.shape[1]
            ff = np.indices((d, d)).reshape(2, -1)
            for s in range(0, len(QX), block):
                BX, BY = QX[s : s + block], QY[s : s + block]
                for tag, G in (
                    ("xx", BX.T @ BX), ("xy", BX.T @ BY), ("yy", BY.T @ BY)
                ):
                    yield pd.DataFrame(
                        {"grid": tag, "i": ff[0] + 1, "j": ff[1] + 1,
                         "s": G.reshape(-1)}
                    )
                yield pd.DataFrame(
                    {"grid": "sx", "i": np.arange(1, d + 1), "j": 0,
                     "s": BX.sum(axis=0)}
                )
                yield pd.DataFrame(
                    {"grid": "sy", "i": np.arange(1, d + 1), "j": 0,
                     "s": BY.sum(axis=0)}
                )

    return (
        df.select("embedding")
        .mapInPandas(part, schema="grid string, i int, j int, s long")
        .groupBy("grid", "i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
    )
