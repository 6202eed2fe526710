"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every variant avoids the O(n²) all-pairs comparison.

- **exact**: one hash-groupBy shuffle on the fingerprint (uniform md5
  keys → no skew); keeper chosen by min id so reruns are stable.
- **MinHash+LSH**: shingle → H minhashes → B band signatures → the
  *band-bucket self-join* only compares documents sharing a band
  signature.  At 100 TB the join key (band_idx, signature) is uniform
  md5 output; hot buckets (boilerplate docs) are exactly the
  duplicates we're hunting, and AQE skew-split handles them.
- **SimHash**: 60-bit signature from per-token hashes; near-dup
  candidates = equal signature band (table-driven, same bucket-join
  shape).
- **n-gram Jaccard**: exact verification on candidate pairs only —
  explode shingles, count intersections group-wise; never materializes
  full cross products.

Determinism/parity: all base hashing is md5 (identical hex in DuckDB;
minhash derives its H permutations from one md5 via a seeded
2-universal family shared with the oracle), so every stage has an
exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint, shingle_rows

MINHASH_HASHES = 12
MINHASH_BANDS = 4  # 4 bands × 3 rows


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per normalized-text fingerprint."""
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# One md5 per shingle, H derived permutations: the md5 per
# (shingle, j) it replaces was H× the md5 work and dominated the
# signature-stage CPU at volume (measured: the LSH pipeline on a
# 16×-replicated sf0.1 corpus spent most of its 14.8s there).  The
# family is 2-universal multiply-add over the two 32-bit md5 halves,
# g_j = (a_j·hi + b_j·lo + c_j) mod (2^61−1), with per-j SEEDED random
# coefficients — a plain Kirsch-Mitzenmacher h1 + j·h2 was measured to
# inflate band-collision false positives ~4× (the argmin shingle is
# shared across j through h1; proper per-j multipliers break that).
# a_j, b_j < 2^29 keep every product under 2^61 and the 3-term sum
# under 2^63 (signed-64 safe — DuckDB evaluates the identical
# expression on '0x…'::BIGINT hex parses, so the oracle stays
# value-exact).
MINHASH_MOD = 2305843009213693951  # 2^61 - 1
_COEFF_RND = __import__("random").Random(0x5EED5)
MINHASH_COEFFS: list[tuple[int, int, int]] = [
    (
        _COEFF_RND.randrange(1, 1 << 29) | 1,
        _COEFF_RND.randrange(1, 1 << 29) | 1,
        _COEFF_RND.randrange(0, MINHASH_MOD),
    )
    for _ in range(64)
]


def _minhash_cols(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int
) -> DataFrame:
    """MinHash as shingle-rows → groupBy-min: one row per shingle, one
    md5, ``H`` multiply-add derived hashes, map-side partial min then
    one shuffle of H longs per doc.  (A nested arrays-of-arrays
    formulation recomputes the whole shingle pipeline once per
    downstream use and overwhelms codegen — measured 20× slower; rows
    + aggregate is the plan that scales.)  Output: doc_id, h0..h{H-1}
    (bigint)."""
    sh = shingle_rows(df, id_col, text_col)
    md5 = F.md5(F.col("s"))
    hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    based = sh.select("doc_id", hi.alias("__hi"), lo.alias("__lo"))
    hashes = [
        (
            (
                F.lit(a) * F.col("__hi") + F.lit(b) * F.col("__lo") + F.lit(c)
            )
            % MINHASH_MOD
        ).alias(f"h{j}")
        for j, (a, b, c) in enumerate(MINHASH_COEFFS[:num_hashes])
    ]
    return (
        based.select("doc_id", *hashes)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{j}").alias(f"h{j}") for j in range(num_hashes)])
    )


def minhash_sig_sql(shingles_expr: str = "shingles", num_hashes: int = 12) -> str:
    """The DuckDB twin of ``_minhash_cols``'s hash family as a
    list-valued SQL expression (used by the oracle queries so engine
    and oracle share ONE set of coefficients)."""
    hi = "CAST(CONCAT('0x', substr(md5(s), 1, 8)) AS BIGINT)"
    lo = "CAST(CONCAT('0x', substr(md5(s), 9, 8)) AS BIGINT)"
    parts = [
        (
            f"list_min(list_transform({shingles_expr}, "
            f"s -> ({a} * {hi} + {b} * {lo} + {c}) % {MINHASH_MOD}))"
        )
        for a, b, c in MINHASH_COEFFS[:num_hashes]
    ]
    return "list_value(" + ", ".join(parts) + ")"


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = MINHASH_HASHES
) -> DataFrame:
    """Per-document MinHash signature: ``minhash_j = min over shingles
    of g_j(md5(shingle))`` with the 2-universal multiply-add family
    above, over word-3-gram shingles.  md5-as-base-hash keeps the
    sketch reproducible in any engine."""
    cols = _minhash_cols(df, id_col, text_col, num_hashes)
    return cols.select(
        "doc_id", F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig")
    )


def lsh_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """(doc_id, band, band_sig) LSH index rows for every document — the
    persistable MinHash index.  ``lsh_candidate_pairs`` derives its
    bucket join from this; an INCREMENTAL pipeline commits this table
    once per corpus version and probes new batches against it
    (``incremental_neardup_filter``) instead of re-sketching the whole
    corpus per batch."""
    rows = num_hashes // bands
    sigs = _minhash_cols(df, id_col, text_col, num_hashes)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{b * rows + i}") for i in range(rows)])
            ).alias("band_sig"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", "bs.band", "bs.band_sig")


def incremental_neardup_filter(
    batch: DataFrame,
    corpus_bands: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Incremental near-dup ingest gate: batch documents colliding with
    ANY committed corpus band signature are dropped; the rest survive.

    This is the maintenance mode of MinHash dedup at scale — the
    committed index (``lsh_band_table`` rows, batch-sized probe vs
    corpus-sized rebuild) is the join's big side, partitioned on
    (band, band_sig) exactly like the probe, so the only work per batch
    is sketching the BATCH and one semi-join.  Collision is the
    candidate-level test (same recall/precision as
    ``lsh_candidate_pairs``); chain ``ngram_jaccard`` on the hit pairs
    when the pipeline needs verified-similarity drops instead."""
    bb = lsh_band_table(batch, id_col, text_col, num_hashes, bands)
    hits = (
        bb.join(corpus_bands.select("band", "band_sig"), ["band", "band_sig"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return batch.join(
        hits.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
    bucket_cap: int = 1024,
    threshold: float | None = None,
    max_hashes: int = MINHASH_HASHES,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidates: documents sharing at
    least one band signature.  Output: (doc_a, doc_b), doc_a < doc_b.

    Bucket-size-routed pair emission (100 TB safety): the band table is
    materialized once (``localCheckpoint`` — it feeds the size window
    and both emission paths; Catalyst has no cross-branch CSE, so an
    unmaterialized plan would recompute the shingle→minhash pipeline
    per branch), each bucket gets its size via a window over the same
    (band, band_sig) shuffle, then

    - buckets ≤ ``bucket_cap``: collect_list + double explode — one
      task per bucket, bounded array, no join;
    - buckets  > ``bucket_cap`` (boilerplate-heavy corpora): the
      equi-self-join formulation on (band, band_sig).  A giant
      collect_list group is ONE task holding the whole bucket (AQE skew
      handling splits join partitions, never aggregate groups — it
      cannot rescue that plan); the join formulation streams
      sort-merge pairs and AQE skew-split applies.

    Both paths read the checkpointed band table, which preserves its
    (band, band_sig) hash partitioning, so neither re-shuffles the
    input; the only new exchange is the final pair ``distinct``.

    ``threshold`` is the preferred front door: the banding scheme is
    derived from the target Jaccard similarity via ``lsh_params``
    (S-curve midpoint fitting, bounded by ``max_hashes``) instead of
    hand-picked (num_hashes, bands).
    """
    if threshold is not None:
        num_hashes, bands = lsh_params(threshold, max_hashes)
    banded = lsh_band_table(df, id_col, text_col, num_hashes, bands)
    w = Window.partitionBy("band", "band_sig")
    sized = (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") > 1)
        .localCheckpoint(eager=True)
    )
    small = (
        sized.filter(F.col("__bsz") <= bucket_cap)
        .groupBy("band", "band_sig")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    small_pairs = (
        small.select(F.explode("ids").alias("doc_a"), F.col("ids"))
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    big = sized.filter(F.col("__bsz") > bucket_cap).select("doc_id", "band", "band_sig")
    big_pairs = (
        big.alias("a")
        .join(
            big.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return small_pairs.unionByName(big_pairs).distinct()


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: drop every training document whose
    normalized-text fingerprint appears in ``benchmark`` (the eval-set
    leak check every LLM data pipeline runs before training).

    Plan shape: fingerprint both sides (casefold + whitespace-collapse
    + md5, the exact-dedup key) and LEFT ANTI join the corpus against
    the benchmark's distinct fingerprints.  The benchmark side is tiny
    relative to a 100 TB corpus → Catalyst broadcasts it and the
    corpus is never shuffled; md5 keys are uniform so even a sort-merge
    fallback has no skew.  Matching is exact-after-normalization;
    near-dup contamination composes by routing ``lsh_candidate_pairs``
    over corpus ∪ benchmark instead."""
    bcol = bench_text_col or text_col
    bench_fp = benchmark.select(fingerprint(F.col(bcol)).alias("__fp")).distinct()
    return (
        corpus.withColumn("__fp", fingerprint(F.col(text_col)))
        .join(bench_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash signature: per-token 60-bit md5-derived hashes vote on
    each bit; sign of the per-bit vote sum sets the signature bit.

    Plan shape: tokens explode once, then ONE groupBy(doc) computes all
    ``bits`` vote sums as separate aggregate columns (loop unrolled at
    plan-build time — Python ints feed ``shiftright``) — a single
    shuffle regardless of ``bits``, no bits× row blowup.
    Output: (doc_id, simhash: long)."""
    tok_hash = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast("long")
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("__tok"),
    ).select("doc_id", tok_hash.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    per_doc = tokens.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return per_doc.select("doc_id", sig.alias("simhash"))


def embedding_neardup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the fifth dedup variant.

    Scale shape (same philosophy as MinHash+LSH): never the O(n²)
    cross-join.  Each vector gets an ``n_bits``-bit sign signature from
    fixed coordinate-difference hyperplanes (bit j = sign of
    ``v[2j] − v[2j+1]``); only vectors sharing the full signature are
    exact-scored with cosine = dot/(‖a‖·‖b‖).  Fixed-coordinate planes
    (instead of pseudo-random ones) keep the bucketing expressible in
    plain SQL for the oracle, and near-identical vectors agree on every
    sign bit except within an O(ε) slab around each hyperplane — the
    standard random-projection recall argument.  One shuffle on the
    (short string) signature; bucket sizes ≈ n/2^bits, AQE splits any
    boilerplate-heavy skew.  Output: (id_a, id_b, score), id_a < id_b.
    """

    def bit(j: int) -> F.Column:
        d = F.element_at(F.col(vec_col), 2 * j + 1).cast("double") - F.element_at(
            F.col(vec_col), 2 * j + 2
        ).cast("double")
        return F.when(d >= 0, F.lit("1")).otherwise(F.lit("0"))

    sig = F.concat(*[bit(j) for j in range(n_bits)])
    dot = F.aggregate(
        F.zip_with(
            F.col("a.v"), F.col("b.v"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # ‖v‖ precomputed per ROW before the self-join (an interpreted
    # aggregate evaluated per candidate PAIR doubled the per-pair cost
    # in round 2 — a bucket of k vectors paid k² norm folds for k
    # distinct values)
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    bucketed = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sig.alias("sig"),
        norm.alias("nrm"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Group near-duplicate candidate pairs into clusters — the final
    stage of large-scale dedup (LSH emits *pairs*; keeping one document
    per transitive group needs components).

    Min-label propagation: every node starts labeled with itself; each
    round a node adopts the min label among itself and its neighbors;
    stop when a round changes nothing.  Rounds = graph diameter, which
    for near-dup clusters (cliques plus a few bridges) is ~2-3.  Each
    round is one distributed join+groupBy shuffle on the edge list —
    never a driver-side graph.  ``localCheckpoint`` truncates lineage
    per round so the plan doesn't grow with iterations (the classic
    iterative-algorithm trap at scale).

    Output: (node, cluster) for every node appearing in ``pairs``,
    cluster = min node id reachable (the canonical keeper).
    """
    # Both edge directions from ONE pass over ``pairs``: a union of
    # (s,d) and (d,s) branches would execute the candidate-pair
    # pipeline twice (no cross-branch CSE in Catalyst — measured 2× on
    # the LSH input at sf0.1); explode duplicates rows inside a single
    # scan instead.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
                    F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # round 0 fused into init: with identity labels, the first
    # propagation is just min(least(n, neighbor)) — one aggregate over
    # the edge list, no join.  Cliques converge here immediately.
    labels = (
        edges.groupBy(F.col("s").alias("n"))
        .agg(F.min(F.least(F.col("s"), F.col("d"))).alias("lbl"))
        .localCheckpoint(eager=True)
    )
    # labels only ever decrease under min-propagation, so Σlbl strictly
    # decreases until the fixpoint: a stable sum IS convergence.  One
    # cheap aggregate per round instead of a join-based diff.
    prev_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.d == labels.n)
            .groupBy("s")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, labels.n == nbr_min.s, "left")
            .select(
                labels.n,
                F.least(labels.lbl, F.coalesce(nbr_min.nbr_lbl, labels.lbl)).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("n").alias("node"), F.col("lbl").alias("cluster"))


def _pair_gram_stats(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Shared machinery for pairwise n-gram measures: one distinct-
    shingle explode, two semi-bounded joins (only candidate docs'
    shingles move), group-wise intersection counts.  Returns pairs +
    (n_inter, n_a, n_b); Jaccard and containment are projections."""
    sh = shingle_rows(df, id_col, text_col, n).distinct().withColumnRenamed("s", "sh")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("sa")
    b = sh.alias("sb")
    inter = (
        pairs.join(a, pairs.doc_a == F.col("sa.doc_id"))
        .join(b, (pairs.doc_b == F.col("sb.doc_id")) & (F.col("sa.sh") == F.col("sb.sh")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .fillna({"n_inter": 0})
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
    )


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard similarity for given (doc_a, doc_b) pairs:
    |A∩B| counted group-wise, |A∪B| derived as |A|+|B|−|A∩B|.
    Output: pairs + ``jaccard``."""
    return _pair_gram_stats(df, pairs, id_col, text_col, n).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def ngram_containment(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Directed n-gram containment for candidate pairs:
    ``containment_a = |grams(A) ∩ grams(B)| / |grams(A)|`` (and the
    mirror for B) — the asymmetric complement to ``ngram_jaccard``.
    Jaccard misses the wire-copy case where a short document sits
    whole inside a long one (|A∩B|/|A∪B| is small when |B| ≫ |A|,
    but containment_a ≈ 1 flags it).  Output: pairs +
    (containment_a, containment_b)."""
    return _pair_gram_stats(df, pairs, id_col, text_col, n).select(
        "doc_a",
        "doc_b",
        F.round(F.col("n_inter").cast("double") / F.col("n_a").cast("double"), 6).alias(
            "containment_a"
        ),
        F.round(F.col("n_inter").cast("double") / F.col("n_b").cast("double"), 6).alias(
            "containment_b"
        ),
    )


def lsh_params(
    threshold: float, max_hashes: int = 128
) -> tuple[int, int]:
    """Pick (num_hashes, bands) for a target Jaccard threshold.

    A banding scheme with b bands of r rows fires on a pair of
    similarity s with probability 1 − (1 − s^r)^b; its S-curve
    midpoint sits near (1/b)^(1/r).  Minimize |midpoint − threshold|
    over factorizations b·r ≤ max_hashes (standard MMDS §3.4 recipe),
    preferring more hashes on ties (sharper curve).  Returns
    (num_hashes, bands) ready for ``lsh_candidate_pairs``.

    >>> lsh_params(0.8, 16)
    (16, 4)
    """
    best = None
    for r in range(1, max_hashes + 1):
        for b in range(1, max_hashes // r + 1):
            mid = (1.0 / b) ** (1.0 / r)
            key = (abs(mid - threshold), -(b * r))
            if best is None or key < best[0]:
                best = (key, (b * r, b))
    return best[1]


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_pct: int = 60,
    collapse_exact: bool = False,
) -> DataFrame:
    """EXACT set-similarity join (shingle-set Jaccard ≥ threshold) via
    prefix filtering — the PPJoin family's core idea (Xiao et al.,
    WWW'08), complementing the PROBABILISTIC MinHash/LSH path: no false
    negatives, no signature tuning, at the cost of one set-element join.

    Set elements are word-3-gram shingles (the same ``shingle_rows``
    the MinHash path uses) — unigrams over a small vocabulary make
    every pair of documents similar (measured: 73k of 125k pairs pass
    θ=0.6 on this corpus's unigram sets, i.e. an all-pairs join in
    disguise); shingles restore discriminative sets.

    Order each doc's distinct shingles by (global frequency ASC,
    shingle) — the canonical ordering that makes prefixes collide on
    RARE elements — and index only the first |d| − ⌈θ·|d|⌉ + 1 of them:
    two sets with Jaccard ≥ θ share ≥ ⌈θ·|d|⌉ elements, so disjoint
    prefixes ⇒ below threshold.  Candidates then verify EXACTLY against
    the full sets.

    ``threshold_pct`` is an integer percent so the final test is pure
    integer math (100·inter ≥ pct·union) — engine-portable with no
    float boundary.  Scale: per-doc window (partitioned by doc), one
    join keyed on prefix shingles (rare by construction — the frequency
    ordering IS the skew defense; boilerplate is frequent and therefore
    never in a prefix unless the doc is nearly all boilerplate), and a
    verification join bounded by candidate count × doc length.  Length
    filter θ·|a| ≤ |b| prunes before verification.
    Returns (doc_a, doc_b, inter, uni, jaccard).

    SCALE PHYSICS: emitted pairs are quadratic in duplicate
    multiplicity — m copies of one document are m·(m−1)/2 true pairs,
    so on a duplicate-heavy corpus the OUTPUT explodes before any plan
    does (measured 32.5× time at 16× replicated data — Σ|cluster|²,
    the same law as fixed-planes knn_graph).  ``collapse_exact=True``
    is the production path: collapse exact-fingerprint duplicates to
    their min-id representative first (one cheap aggregate — the
    dedup_exact shape), join over representatives only, and return a
    ``multiplicity_a/b`` column so consumers can re-expand pair counts.
    Re-probed at 16× replication: 1.3× time (the replicas collapse
    back to the 1× problem)."""
    from pyspark.sql import Window

    from . import rank as _rank
    from .text import fingerprint, shingle_rows

    mult = None
    if collapse_exact:
        fp = df.select(
            F.col(id_col), F.col(text_col), fingerprint(F.col(text_col)).alias("__fp")
        )
        grp = fp.groupBy("__fp").agg(
            F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__mult")
        )
        df = (
            fp.join(grp, "__fp")
            .filter(F.col(id_col) == F.col("__rep"))
            .select(F.col(id_col), F.col(text_col), F.col("__mult"))
        )
        mult = df.select(F.col(id_col).alias("__mid"), F.col("__mult"))

    # Set elements are carried as 60-bit md5-derived hashes, not
    # shingle strings: every downstream distinct/join/window then
    # shuffles (doc, bigint) rows — measured 3.5× faster than hauling
    # the strings (the string distinct alone cost more than the whole
    # hashed pipeline).  The oracle applies the SAME hash, so the
    # differential stays value-exact; a 2^-60 collision could in
    # principle merge two shingles (Jaccard would drift by 1 element) —
    # negligible at any realistic corpus size and shared by both
    # engines only if the colliding pair co-occurs, which rounds to
    # never.
    #
    # The distinct element table feeds the size aggregate, the global
    # frequency aggregate, the prefix ranking AND both verification
    # probes — materialize once or the posexplode+window shingle
    # pipeline re-executes 4×.
    tokens = (
        shingle_rows(df, id_col, text_col)
        .select(
            F.col("doc_id").alias("doc"),
            F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
            .cast("long")
            .alias("tok"),
        )
        .distinct()
    )
    if not _rank.is_plan_only():
        tokens = tokens.localCheckpoint(eager=True)
    # Global token frequency and per-doc set size as WINDOW counts over
    # the element table instead of two aggregates joined back (r10):
    # the f-window rides ONE exchange on tok (the old plan shuffled
    # tokens by tok for the join anyway, plus an aggregate exchange),
    # and pos/sz share the doc exchange+sort (count over an unordered
    # doc frame reuses row_number's partitioning).  4 exchanges + 2
    # joins → 2 exchanges, values identical by construction.
    w = Window.partitionBy("doc").orderBy("f", "tok")
    ranked = (
        tokens.withColumn(
            "f", F.count(F.lit(1)).over(Window.partitionBy("tok"))
        )
        .withColumn("pos", F.row_number().over(w))
        .withColumn(
            "sz", F.count(F.lit(1)).over(Window.partitionBy("doc"))
        )
    )
    # prefix length: sz - ceil(theta*sz) + 1, in integer math:
    # ceil(pct*sz/100) = floor((pct*sz + 99)/100)
    # reused as both join sides below — materialize the ranking once
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("sz") - F.floor((F.lit(threshold_pct) * F.col("sz") + 99) / 100) + 1
    ).select("doc", "tok", "sz", "pos")
    if not _rank.is_plan_only():
        prefix = prefix.localCheckpoint(eager=True)
    a = prefix.select(
        F.col("doc").alias("doc_a"), "tok",
        F.col("sz").alias("sz_a"), F.col("pos").alias("__pa"),
    )
    b = prefix.select(
        F.col("doc").alias("doc_b"), "tok",
        F.col("sz").alias("sz_b"), F.col("pos").alias("__pb"),
    )
    # PPJoin POSITION filter (Xiao et al. §3.2), riding the same
    # exchange the old pair-distinct used (groupBy on the identical
    # keys): both prefixes are sorted by the one global (f, tok) order,
    # so for the FIRST shared prefix token t (positions pa in a, pb in
    # b) no shared element can precede t — any earlier shared element
    # would itself be a shared prefix token before t.  Hence
    # inter ≤ 1 + min(sz_a − pa, sz_b − pb); that bound is largest at
    # the first shared token (positions only grow together), so
    # max() over the candidate's shared prefix tokens computes it.
    # Jaccard ≥ θ ⇔ inter·(100+pct) ≥ pct·(sz_a+sz_b), so candidates
    # whose upper bound fails can never verify — a lossless prune
    # measured to drop 193k → 69k candidate pairs (13.5M → 4.9M
    # exploded verification rows) on the sf0.1 corpus.
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter (conservative, integer): 100·min ≥ pct·max
        .filter(
            F.lit(100) * F.least("sz_a", "sz_b")
            >= F.lit(threshold_pct) * F.greatest("sz_a", "sz_b")
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(
            F.max(
                F.lit(1)
                + F.least(
                    F.col("sz_a") - F.col("__pa"), F.col("sz_b") - F.col("__pb")
                )
            ).alias("__ub")
        )
        .filter(
            F.col("__ub") * (100 + threshold_pct)
            >= F.lit(threshold_pct) * (F.col("sz_a") + F.col("sz_b"))
        )
        .select("doc_a", "doc_b", "sz_a", "sz_b")
    )
    ta = tokens.select(F.col("doc").alias("doc_a"), "tok")
    tb = tokens.select(F.col("doc").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .filter(F.lit(100) * F.col("inter") >= F.lit(threshold_pct) * F.col("uni"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "uni",
            F.round(F.col("inter").cast("double") / F.col("uni"), 6).alias(
                "jaccard"
            ),
        )
    )
    if mult is not None:
        ma = mult.select(
            F.col("__mid").alias("doc_a"), F.col("__mult").alias("multiplicity_a")
        )
        mb = mult.select(
            F.col("__mid").alias("doc_b"), F.col("__mult").alias("multiplicity_b")
        )
        out = out.join(ma, "doc_a").join(mb, "doc_b").select(
            "doc_a",
            "doc_b",
            "inter",
            "uni",
            "jaccard",
            "multiplicity_a",
            "multiplicity_b",
        )
    return out


def lcs_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 7,
    cap: int = 16,
    collapse_exact: bool = False,
) -> DataFrame:
    """Longest common substring (in words) per document pair, exact for
    common spans >= ``k`` words among grams under the frequency cap.

    Suffix-automaton/LCP methods find the longest common substring with
    a single-machine suffix structure; the distributed re-expression
    indexes every word k-gram with its position, joins equal grams
    across documents, and measures the longest RUN of consecutive
    positions along one alignment diagonal (pa - pb): a run of L
    consecutive shared k-gram starts witnesses a common substring of
    exactly L + k - 1 words.  Grams occurring more than ``cap`` times
    corpus-wide are dropped BEFORE the pair join (the CCNet / Lee et
    al. 2022 hot-shingle guard): fan-out per gram is bounded by cap²,
    making the op corpus-linear; an ultra-frequent gram pins down no
    specific pair anyway.  Plan: two hash shuffles (gram, then pair
    diagonal) + one pair-keyed window — no data-sized sort, no
    quadratic pair emission.

    Output: (da, db, lcs_words, n_anchors) for every pair sharing at
    least one capped gram; ``n_anchors`` = shared gram-position count.

    ``collapse_exact=True`` is the production path for corpora with
    exact duplicates (the Σ|clone-family|² output law: m exact copies
    of a doc are m(m−1)/2 identical pairs in the naive join — 16×-
    replica probe: 25.5× naive): collapse exact-fingerprint duplicates
    to their min-id representative first (the dedup_exact shape), run
    the pair join over representatives only, and return
    ``multiplicity_a/b`` so consumers can re-expand pair counts.
    """
    from pyspark.sql import Window

    from .text import fingerprint, tokens

    if collapse_exact:
        fp = df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias(text_col),
            fingerprint(F.col(text_col)).alias("__fp"),
        )
        reps = fp.groupBy("__fp").agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("mult"),
        )
        rd = reps.join(
            fp.select("doc_id", text_col), "doc_id"
        ).select("doc_id", "mult", text_col)
        base = lcs_pairs(rd, "doc_id", text_col, k=k, cap=cap)
        m = reps.select("doc_id", "mult")
        return (
            base.join(m.withColumnRenamed("doc_id", "da"), "da")
            .withColumnRenamed("mult", "multiplicity_a")
            .join(m.withColumnRenamed("doc_id", "db"), "db")
            .withColumnRenamed("mult", "multiplicity_b")
            .select(
                "da", "db", "lcs_words", "n_anchors",
                "multiplicity_a", "multiplicity_b",
            )
        )

    tokd = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("w")
    ).filter(F.size("w") >= k)
    pos = tokd.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (k - 1)),
                lambda i: F.struct(
                    i.cast("long").alias("p"),
                    F.array_join(F.slice("w", i, k), " ").alias("g"),
                ),
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.p").alias("p"), F.col("pg.g").alias("g"))
    # Corpus frequency as a window over the gram (the substring_dup_
    # spans shape) instead of a groupBy+join-back: ONE corpus explode
    # and ONE gram shuffle serve both the cap filter and the pair join.
    # The surviving subset (grams with 2..cap occurrences — the rare
    # tail of natural text) is checkpointed so the self-join's two
    # branches read it instead of re-exploding the corpus (the naive
    # plan scanned and exploded the corpus THREE times).
    pp = (
        pos.withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .filter((F.col("c") >= 2) & (F.col("c") <= cap))
        .drop("c")
    )
    from . import rank as _rank

    if not _rank.is_plan_only():
        pp = pp.localCheckpoint(eager=True)
    a = pp.select(F.col("doc_id").alias("da"), F.col("p").alias("pa"), "g")
    b = pp.select(F.col("doc_id").alias("db"), F.col("p").alias("pb"), "g")
    pairs = (
        a.join(b, ["g"])
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    wd = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = pairs.withColumn("prev_p", F.lag("pa").over(wd)).withColumn(
        "grp",
        F.sum(
            F.when(
                F.col("prev_p").isNull() | (F.col("pa") > F.col("prev_p") + 1), 1
            ).otherwise(0)
        )
        .over(wd)
        .cast("bigint"),
    )
    # n_anchors = Σ over (diag, grp) of the run lengths — the anchor
    # count folds into the SAME aggregation chain as the run-length
    # max (r10): the previous separate ``pairs.groupBy`` branch
    # re-executed the whole gram self-join a second time (two
    # aggregates over one un-materialized subtree share nothing), and
    # the rl⋈anch join is gone with it.
    return (
        runs.groupBy("da", "db", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("da", "db")
        .agg(
            (F.max("cnt") + (k - 1)).cast("bigint").alias("lcs_words"),
            F.sum("cnt").cast("bigint").alias("n_anchors"),
        )
        .select("da", "db", "lcs_words", "n_anchors")
    )
