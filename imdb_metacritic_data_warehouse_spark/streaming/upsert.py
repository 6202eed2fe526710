"""Streaming SCD2 upsert — ``foreachBatch`` reusing the batch merge.

Each micro-batch is exactly one reference "re-parse" (``readme.txt:5``):
the batch's rows are the new snapshot for the keys it contains, and
``scd2_apply`` historizes them against the open target rows.  Because
the batch is keyed (not a full snapshot), vanished-key close-out is
disabled here: a key absent from a micro-batch is simply unchanged —
the semantic difference between CDC-style streams and full-snapshot
batch loads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import null_safe_neq_any
from ..operators.scd2 import OPEN_SENTINEL, VALID_FROM, VALID_TO, stamp
from ..sources.table import VersionedParquetTable


def scd2_upsert_batch(
    table: VersionedParquetTable,
    batch_df: DataFrame,
    pk: str,
    attrs: list[str],
    batch_ts: str,
) -> None:
    """Merge one micro-batch (keyed upserts, no vanished-key close-out)."""
    cols = [pk, *attrs]
    out_cols = [*cols, VALID_FROM, VALID_TO]
    # one row per key: the merge's full-outer join needs a unique pk on
    # the batch side.  An arbitrary row survives here, so a caller whose
    # batch may hold several updates for one key compacts it first
    # (``scd2_streaming_sink`` keeps each key's latest row by event time)
    dedup = batch_df.select(*cols).dropDuplicates([pk])
    new = stamp(dedup, batch_ts)

    if not table.exists():
        table.write(new.select(*out_cols))
        return

    target = table.read()
    open_lit = F.lit(OPEN_SENTINEL).cast("timestamp")
    open_tgt = target.filter(F.col(VALID_TO) == open_lit).alias("t")
    closed_tgt = target.filter(F.col(VALID_TO) != open_lit)

    n = new.alias("n")
    joined = open_tgt.join(n, F.col(f"t.{pk}") == F.col(f"n.{pk}"), "full_outer")

    changed = null_safe_neq_any("t", "n", attrs)
    t_present = F.col(f"t.{pk}").isNotNull()
    n_present = F.col(f"n.{pk}").isNotNull()
    batch_lit = F.lit(batch_ts).cast("timestamp")

    def row(prefix, vf, vt):
        return F.struct(
            *[F.col(f"{prefix}.{c}").alias(c) for c in cols],
            vf.alias(VALID_FROM),
            vt.alias(VALID_TO),
        )

    emitted = (
        F.when(t_present & ~n_present, F.array(row("t", F.col(f"t.{VALID_FROM}"), F.col(f"t.{VALID_TO}"))))
        .when(~t_present & n_present, F.array(row("n", batch_lit, open_lit)))
        .when(
            t_present & n_present & changed,
            F.array(
                row("t", F.col(f"t.{VALID_FROM}"), batch_lit),
                row("n", batch_lit, open_lit),
            ),
        )
        .otherwise(F.array(row("t", F.col(f"t.{VALID_FROM}"), F.col(f"t.{VALID_TO}"))))
    )
    merged = joined.select(F.explode(emitted).alias("r")).select(
        *[F.col(f"r.{c}").alias(c) for c in out_cols]
    )
    table.write(closed_tgt.select(*out_cols).unionByName(merged))


def scd2_streaming_sink(
    stream_df: DataFrame,
    table: VersionedParquetTable,
    pk: str,
    attrs: list[str],
    ts_col: str = "ts",
    checkpoint: str | None = None,
):
    """Attach the SCD2 upsert as a ``foreachBatch`` sink; batch_ts =
    max event time in the batch (deterministic for a given input).
    Each key's latest row by ``ts_col`` is its new state, whatever its
    position in the micro-batch."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        ts = batch_df.agg(F.max(ts_col)).collect()[0][0]
        latest = (
            batch_df.groupBy(pk)
            .agg(F.max_by(F.struct(*[F.col(a) for a in attrs]), F.col(ts_col)).alias("__last"))
            .select(pk, "__last.*")
        )
        scd2_upsert_batch(table, latest, pk, attrs, str(ts))

    writer = stream_df.writeStream.foreachBatch(handle).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def cdc_upsert_batch(
    table: VersionedParquetTable,
    batch_df: DataFrame,
    key: str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> None:
    """Apply one CDC micro-batch (op ∈ I/U/D, e.g. a Debezium-shaped
    feed) to a versioned table with NET-EFFECT semantics:

    1. compact to the LAST change per key by ``seq_col`` (a strictly
       increasing per-key sequence — the log offset).  Intermediate
       images within a batch are unobservable, exactly like a MERGE
       from a change-log compaction;
    2. normalize the surviving op against current table membership —
       a D-then-I in one batch nets to an update of an existing row,
       an upstream 'U' for a key this table never saw nets to an
       insert (the rule production CDC sinks apply so replays and
       op-mislabelled feeds stay idempotent);
    3. apply via the batch multi-clause merge (one join pass).
    """
    from ..operators.cdc import apply_cdc_batch

    payload = [c for c in batch_df.columns if c not in (op_col, seq_col)]
    compact = (
        batch_df.groupBy(key)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload if c != key], F.col(op_col)),
                F.col(seq_col),
            ).alias("__last")
        )
        .select(key, "__last.*")
    )
    if not table.exists():
        inserts = compact.filter(F.col(op_col) != "D").drop(op_col)
        table.write(inserts)
        return
    base = table.read()
    in_base = base.select(key).withColumn("__in_base", F.lit(1))
    normalized = compact.join(in_base, key, "left").select(
        *[F.col(c) for c in payload],
        F.when(F.col(op_col) == "D", F.lit("D"))
        .when(F.col("__in_base").isNotNull(), F.lit("U"))
        .otherwise(F.lit("I"))
        .alias(op_col),
    )
    table.write(apply_cdc_batch(base, normalized, key, op_col))


def cdc_streaming_sink(
    stream_df: DataFrame,
    table: VersionedParquetTable,
    key: str,
    op_col: str = "op",
    seq_col: str = "seq",
    checkpoint: str | None = None,
):
    """Attach the net-effect CDC apply as a ``foreachBatch`` sink."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        cdc_upsert_batch(table, batch_df, key, op_col, seq_col)

    writer = stream_df.writeStream.foreachBatch(handle).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
