"""Streaming eval-set contamination index — the composition of the
batch decontamination operators (operators/text.contamination_overlap,
the whole-doc fingerprint anti-join) with the incremental-ingest
pattern (streaming/ingest.py): the EVAL SET is what arrives as a
stream (benchmarks get released, extended, and re-released), and the
training corpus must be scorable against the latest index at any
moment without re-shingling history.

State = one persisted table of distinct eval n-grams, each tagged with
the FIRST arrival wave that contributed it:

    (s: string, first_wave: long)

Merge properties (the reasons this survives at-least-once delivery):

- novelty is an anti-join on the shingle itself, so a re-delivered
  batch contributes nothing new — set union is naturally idempotent
  (the HLL MAX-merge argument, not the CMS SUM hazard);
- ``first_wave`` is a MIN-merge: if a shingle arrives again from a
  later wave it keeps its original attribution, and a REPLAY of its
  own wave is a no-op — so attribution is stable under both replays
  and out-of-order wave delivery.

Scale: the index is bounded by the eval set (millions of shingles,
not the corpus' billions) — small enough to broadcast into the
scoring join; the merge itself hash-partitions on the shingle, the
same bucketing a 100 TB deployment would give the committed index.

Batch twin: ``contamination_wave_attribution_docs`` (entry_queries/q19)
computes the identical per-doc wave-attributed overlap in one
declarative plan; tests/test_streaming.py pins incremental == batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..operators.text import tokens
from ..sources.table import VersionedParquetTable


def _shingles(df: DataFrame, n: int, text_col: str) -> DataFrame:
    """Distinct word n-gram shingles per input row (short docs emit
    their whole token string — the contamination_overlap rule; the
    ``F.transform``-over-``F.sequence`` form keeps everything in
    codegen with no window shuffle, right for the eval side where rows
    carry no id to window by)."""
    w = df.withColumn("__w", tokens(F.col(text_col)))
    return w.select(
        *[c for c in df.columns if c != text_col],
        F.explode(
            F.when(
                F.size("__w") < n, F.array(F.array_join("__w", " "))
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("__w") - n),
                    lambda i: F.array_join(F.slice("__w", i + 1, n), " "),
                )
            )
        ).alias("s"),
    ).distinct()


def merge_eval_ngram_index(
    table: VersionedParquetTable,
    eval_batch_df: DataFrame,
    wave: int,
    n: int = 5,
    text_col: str = "text",
) -> None:
    """Fold one eval-set arrival wave into the committed n-gram index.

    Novel shingles append with ``first_wave = wave``; shingles already
    committed keep their original attribution (MIN-merge by
    construction — we never update committed rows).  Replays and
    re-deliveries are anti-joined away.
    """
    sh = (
        _shingles(eval_batch_df.select(text_col), n=n, text_col=text_col)
        .select("s")
        .distinct()
        .withColumn("first_wave", F.lit(wave).cast("long"))
    )
    if not table.exists():
        table.write(sh)
        return
    committed = table.read()
    novel = sh.join(committed.select("s"), "s", "left_anti")
    table.write(committed.unionByName(novel))


def eval_index_sink(
    stream_df: DataFrame,
    table: VersionedParquetTable,
    checkpoint: str,
    wave_col: str = "wave",
    n: int = 5,
    text_col: str = "text",
):
    """readStream → foreachBatch index merge.  Each micro-batch may
    carry rows from several waves; they fold in ascending wave order so
    attribution matches the logical release order even when one batch
    straddles two releases."""

    def handle(batch_df: DataFrame, _epoch: int) -> None:
        waves = [r[0] for r in batch_df.select(wave_col).distinct().collect()]
        for w in sorted(waves):
            merge_eval_ngram_index(
                table,
                batch_df.where(F.col(wave_col) == w),
                wave=int(w),
                n=n,
                text_col=text_col,
            )

    return stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )


def contamination_against_index(
    docs: DataFrame,
    index: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_waves: int = 3,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Score a corpus against the committed index: per doc, distinct
    n-gram count, per-wave hit counts, and the overlap fraction.

    A REAL eval-set index is dimension-sized (benchmarks are thousands
    of documents, not corpus-proportional) and broadcasting it removes
    the shingle shuffle — but the hint is GATED on the index's actual
    row count (ADVICE r9): the entry-query twin builds its synthetic
    eval set as a fixed FRACTION of the corpus, so an unconditional
    broadcast would scale linearly with input and contradict the 100 TB
    claim.  The count is one scalar aggregate over the committed
    (already materialized, shingle-grained) index table; above the
    threshold the join falls back to a plain shuffle join on the
    shingle key — uniform, one exchange per side.
    """
    dsh = _shingles(docs.select(id_col, text_col), n=n, text_col=text_col)
    # Checkpoint the (eval-set-bounded, shingle-grained) index so the
    # sizing count and the join read ONE materialization instead of
    # rebuilding the index plan twice.
    index = materialize(index, "contamination_against_index.index")
    # 1-row scalar on the materialized index — not a data pull.
    small = index.count() <= broadcast_max_rows
    hit = dsh.join(F.broadcast(index) if small else index, "s", "left")
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        *[
            F.sum(F.when(F.col("first_wave") == w, 1).otherwise(0))
            .cast("bigint")
            .alias(f"hits_w{w}")
            for w in range(n_waves)
        ],
        F.sum(F.when(F.col("first_wave").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("hits"),
    ]
    return (
        hit.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            "n_shingles",
            *[f"hits_w{w}" for w in range(n_waves)],
            F.round(
                F.col("hits").cast("double") / F.col("n_shingles").cast("double"), 6
            ).alias("overlap_frac"),
        )
    )
