"""Structured Streaming slice: windowed aggregations driven to
completion with the memory sink, and the foreachBatch SCD2 upsert."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imdb_metacritic_data_warehouse_spark.sources.table import VersionedParquetTable
from imdb_metacritic_data_warehouse_spark.streaming.upsert import scd2_upsert_batch
from imdb_metacritic_data_warehouse_spark.streaming.windows import (
    dedup_stream,
    session_window_stream,
    tumbling_window_stream,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_src")
    rows = [
        (1, "2024-01-01 10:05:00", 1, "click", 1.0),
        (2, "2024-01-01 10:20:00", 1, "click", 2.0),
        (3, "2024-01-01 11:10:00", 1, "view", 3.0),   # >30min gap → new session
        (4, "2024-01-01 10:07:00", 2, "click", 4.0),
        (4, "2024-01-01 10:07:00", 2, "click", 4.0),  # duplicate event_id
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(str(root / "events"))
    return str(root / "events")


def _run_stream(spark, df, name):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_tumbling_window_stream(spark, event_stream_dir):
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_stream_dir)
    rows = _run_stream(spark, tumbling_window_stream(src), "tumbling_out")
    by_key = {(str(r.window_start), r.event_type): r for r in rows}
    clicks_10 = by_key[("2024-01-01 10:00:00", "click")]
    assert clicks_10.n == 4 and clicks_10.sum_value == 11.0


def test_session_window_stream(spark, event_stream_dir):
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_stream_dir)
    rows = _run_stream(spark, session_window_stream(src), "session_out")
    u1 = sorted([r for r in rows if r.user_id == 1], key=lambda r: str(r.session_start))
    assert len(u1) == 2  # 10:05-10:20 block, then 11:10 after >30min gap
    assert str(u1[0].session_end) == "2024-01-01 10:50:00"  # last ts + gap


def test_dedup_stream(spark, event_stream_dir):
    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_stream_dir)
    q = (
        dedup_stream(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT event_id FROM dedup_out").collect()
    finally:
        q.stop()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3, 4]  # duplicate event 4 dropped


def test_scd2_upsert_batches(spark, tmp_path):
    tab = VersionedParquetTable(spark, str(tmp_path), "user_state")
    b1 = spark.createDataFrame([(1, "bronze"), (2, "bronze")], "user_id long, tier string")
    b2 = spark.createDataFrame([(1, "gold")], "user_id long, tier string")
    scd2_upsert_batch(tab, b1, "user_id", ["tier"], "2024-01-01 00:00:00")
    scd2_upsert_batch(tab, b2, "user_id", ["tier"], "2024-01-02 00:00:00")
    rows = tab.read().collect()
    u1 = sorted([r for r in rows if r.user_id == 1], key=lambda r: str(r.valid_from))
    u2 = [r for r in rows if r.user_id == 2]
    assert len(u1) == 2 and u1[0].tier == "bronze" and u1[1].tier == "gold"
    assert str(u1[0].valid_to).startswith("2024-01-02")
    # key absent from micro-batch stays open (CDC semantics, no close-out)
    assert len(u2) == 1 and str(u2[0].valid_to).startswith("9999")


def test_stateful_running_totals(spark, event_stream_dir):
    from imdb_metacritic_data_warehouse_spark.streaming.stateful import (
        running_user_totals,
    )

    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_stream_dir)
    q = (
        running_user_totals(src)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM stateful_out").collect()
    finally:
        q.stop()
    latest = {r.user_id: r for r in rows}  # update mode: last row per user wins
    assert latest[1].n_events == 3 and latest[1].total_value == 6.0
    assert latest[2].n_events == 2 and latest[2].total_value == 8.0


def test_streaming_scd2_sink_end_to_end(spark, tmp_path):
    """readStream → foreachBatch SCD2 upsert → VersionedParquetTable,
    driven with availableNow across two source files (two micro-batches
    in one run is not guaranteed, so run the stream twice — each run is
    one reference 're-parse')."""
    from imdb_metacritic_data_warehouse_spark.streaming.upsert import (
        scd2_streaming_sink,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    tab = VersionedParquetTable(spark, str(tmp_path / "tables"), "user_tier")

    def run_batch(rows, fname):
        df = spark.createDataFrame(
            rows, "user_id long, tier string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.coalesce(1).write.mode("overwrite").parquet(str(src_dir / fname))
        schema = "user_id long, tier string, ts timestamp"
        stream = spark.readStream.schema(schema).parquet(str(src_dir / fname))
        q = scd2_streaming_sink(
            stream,
            tab,
            "user_id",
            ["tier"],
            checkpoint=str(tmp_path / f"ckpt_{fname}"),
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_batch([(1, "bronze", "2024-01-01 00:00:00"), (2, "bronze", "2024-01-01 00:00:00")], "b1")
    run_batch([(1, "gold", "2024-02-01 00:00:00")], "b2")

    rows = tab.read().collect()
    u1 = sorted([r for r in rows if r.user_id == 1], key=lambda r: str(r.valid_from))
    assert [r.tier for r in u1] == ["bronze", "gold"]
    assert str(u1[0].valid_to) == str(u1[1].valid_from)  # contiguous history
    u2 = [r for r in rows if r.user_id == 2]
    assert len(u2) == 1 and str(u2[0].valid_to).startswith("9999")

    # two updates for one key in one micro-batch, the older first in
    # the file: the latest by ts is the key's new state
    run_batch(
        [(2, "silver", "2024-03-01 00:00:00"), (2, "platinum", "2024-03-02 00:00:00")],
        "b3",
    )
    u2 = sorted(
        [r for r in tab.read().collect() if r.user_id == 2], key=lambda r: str(r.valid_from)
    )
    assert [r.tier for r in u2] == ["bronze", "platinum"]
    assert str(u2[0].valid_to) == str(u2[1].valid_from) == "2024-03-02 00:00:00"
    assert str(u2[1].valid_to).startswith("9999")


def test_stream_stream_interval_join(spark, tmp_path):
    from imdb_metacritic_data_warehouse_spark.streaming.joins import (
        interval_join_streams,
    )

    rows_c = [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 12:00:00", 1)]
    rows_p = [(91, "2024-01-01 09:30:00", 1), (92, "2024-01-01 09:00:00", 1)]
    cdf = spark.createDataFrame(rows_c, "click_id long, cts string, user_id long").withColumn(
        "cts", F.col("cts").cast("timestamp")
    )
    pdf = spark.createDataFrame(rows_p, "purchase_id long, pts string, user_id long").withColumn(
        "pts", F.col("pts").cast("timestamp")
    )
    cdf.coalesce(1).write.parquet(str(tmp_path / "clicks"))
    pdf.coalesce(1).write.parquet(str(tmp_path / "purchases"))
    cs = spark.readStream.schema("click_id long, cts timestamp, user_id long").parquet(
        str(tmp_path / "clicks")
    )
    ps = spark.readStream.schema("purchase_id long, pts timestamp, user_id long").parquet(
        str(tmp_path / "purchases")
    )
    joined = interval_join_streams(
        cs, ps, "user_id", "cts", "pts", lookback_seconds=3600
    ).select("click_id", "purchase_id")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssjoin_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.click_id, r.purchase_id) for r in spark.sql("SELECT * FROM ssjoin_out").collect()}
    # click 1 at 10:00 sees both purchases within 1h lookback (9:30, 9:00);
    # click 2 at 12:00 sees neither
    assert got == {(1, 91), (1, 92)}


def test_versioned_table_crash_safety(spark, tmp_path):
    """An orphan version directory (crash after data write, before
    pointer swap) must be invisible to readers and harmless to the next
    writer."""
    import os

    from imdb_metacritic_data_warehouse_spark.sources.table import (
        VersionedParquetTable,
    )

    tab = VersionedParquetTable(spark, str(tmp_path), "t")
    tab.write(spark.createDataFrame([(1, "a")], "id long, x string"))
    # simulate a crashed writer: v=2 data exists, pointer still says 1
    spark.createDataFrame([(99, "junk")], "id long, x string").write.parquet(
        os.path.join(tab.path, "v=2")
    )
    assert tab.current_version() == 1
    assert [r.id for r in tab.read().collect()] == [1]
    # next commit overwrites the orphan and swaps atomically
    tab.write(spark.createDataFrame([(2, "b")], "id long, x string"))
    assert tab.current_version() == 2
    assert [r.id for r in tab.read().collect()] == [2]


def test_watermark_drops_late_data(spark, tmp_path):
    """Two availableNow runs sharing a checkpoint: run 1 advances the
    watermark past the 10:00 window; run 2's late event for that window
    is dropped, so the finalized (append-mode) window excludes it."""
    from imdb_metacritic_data_warehouse_spark.streaming.windows import (
        tumbling_window_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def add_file(rows, name):
        spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
            str(src / name)
        )

    out_dir = str(tmp_path / "out")

    def run(name):
        stream = spark.readStream.schema(schema).option(
            "pathGlobFilter", "*.parquet"
        ).parquet(str(src) + "/*")
        q = (
            tumbling_window_stream(stream)
            .writeStream.outputMode("append")
            .format("parquet")  # memory sink cannot recover checkpoints
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).collect()

    # run 1: two events in the 10:00 window + one at 14:00 that pushes
    # the watermark (2h delay) to 12:00
    add_file(
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:30:00", 1, "click", 2.0),
            (3, "2024-01-01 14:00:00", 1, "click", 9.0),
        ],
        "a",
    )
    run("wm_run1")
    # run 2: a LATE event for the already-finalized 10:00 window (must
    # be dropped) plus a fresh one keeping the stream alive
    add_file(
        [
            (4, "2024-01-01 10:15:00", 1, "click", 100.0),
            (5, "2024-01-01 14:30:00", 1, "click", 1.0),
        ],
        "b",
    )
    rows = run("wm_run2")
    by_window = {str(r.window_start): r for r in rows}
    w10 = by_window["2024-01-01 10:00:00"]
    assert w10.n == 2 and w10.sum_value == 3.0  # late event 4 excluded
    assert "2024-01-01 14:00:00" not in by_window  # not finalized yet


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf wheel for its "
    "state-server protocol; not shipped in this container",
)
def test_quota_filter_transform_with_state(spark, event_stream_dir):
    """transformWithStateInPandas (Spark 4 stateful API): at most 2
    events admitted per user, tagged with per-key sequence numbers."""
    from imdb_metacritic_data_warehouse_spark.streaming.stateful import quota_filter

    src = spark.readStream.schema(EVENTS_SCHEMA).parquet(event_stream_dir)
    q = (
        quota_filter(src, quota=2)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("quota_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM quota_out").collect()
    finally:
        q.stop()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.event_id, r.seq))
    # user 1 has 3 events; only the 2 lowest event_ids admitted
    assert sorted(by_user[1]) == [(1, 1), (2, 2)]
    # user 2's duplicate rows both count toward the quota
    assert sorted(by_user[2]) == [(4, 1), (4, 2)]


def test_streaming_incremental_mart_refresh(spark, tmp_path):
    """readStream → foreachBatch incremental_refresh → versioned mart
    state.  The streaming mart must equal a full batch recompute over
    everything ingested — the same mergeable-state contract as
    tests/test_incremental.py, now maintained per micro-batch (refresh
    cost bounded by the epoch's delta, not the accumulated history)."""
    from imdb_metacritic_data_warehouse_spark.operators.incremental import (
        incremental_refresh,
        partial_state,
    )
    from imdb_metacritic_data_warehouse_spark.sources.table import (
        VersionedParquetTable,
    )

    def spec():
        return {
            "n": ("sum", F.lit(1).cast("long")),
            "total": ("sum", F.col("amount").cast("decimal(18,4)")),
            "mx": ("max", F.col("amount")),
        }

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    tab = VersionedParquetTable(spark, str(tmp_path / "tables"), "sales_mart")

    def sink(batch_df, epoch_id):
        state = tab.read() if tab.exists() else None
        tab.write(incremental_refresh(state, batch_df, ["seg"], spec()))

    all_rows = []

    def run_batch(rows, fname):
        all_rows.extend(rows)
        df = spark.createDataFrame(rows, "seg string, amount double")
        df.coalesce(1).write.mode("overwrite").parquet(str(src_dir / fname))
        stream = spark.readStream.schema("seg string, amount double").parquet(
            str(src_dir / fname)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{fname}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch([("A", 10.0), ("A", 5.0), ("B", 7.0)], "b1")
    run_batch([("A", 1.0), ("C", 2.0)], "b2")
    run_batch([("B", 100.0)], "b3")

    got = {
        r.seg: (r.n, float(r.total), r.mx)
        for r in tab.read().collect()
    }
    full = partial_state(
        spark.createDataFrame(all_rows, "seg string, amount double"), ["seg"], spec()
    )
    want = {r.seg: (r.n, float(r.total), r.mx) for r in full.collect()}
    assert got == want


def test_streaming_corpus_ingest_dedup_across_batches(spark, tmp_path):
    """Two micro-batches of documents: within-batch duplicates collapse
    to the min doc_id, a cross-batch duplicate never re-commits, and a
    restart (new stream, same table) stays idempotent."""
    from imdb_metacritic_data_warehouse_spark.streaming.ingest import (
        corpus_ingest_sink,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    table = VersionedParquetTable(spark, str(tmp_path / "corpus"), "docs")
    schema = "doc_id long, text string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    # batch 1: A, B, and an exact duplicate of A (different id, same text
    # modulo case/whitespace — the fingerprint rule must catch it)
    write_batch("b1", [(1, "alpha doc"), (2, "beta doc"), (7, "  Alpha   DOC ")])
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = corpus_ingest_sink(
        stream, table, checkpoint=str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got1 = {r.doc_id for r in table.read().collect()}
    assert got1 == {1, 2}  # min-id canonical per fingerprint

    # batch 2: duplicate of B (cross-batch) + novel C
    write_batch("b2", [(9, "beta doc"), (10, "gamma doc")])
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = corpus_ingest_sink(
        stream, table, checkpoint=str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got2 = {r.doc_id for r in table.read().collect()}
    assert got2 == {1, 2, 10}
    # versions advanced: v1 (batch 1) then v2 (batch 2)
    assert table.current_version() == 2


def test_streaming_cms_merge_across_batches(spark, tmp_path):
    """Two micro-batches fold into one committed sketch whose estimates
    equal a batch-built sketch over the union — cell-wise mergeability
    is the whole point of the CMS grid — and never undercount."""
    from imdb_metacritic_data_warehouse_spark.operators.sketch import (
        cms_estimate,
        count_min_sketch,
    )
    from imdb_metacritic_data_warehouse_spark.streaming.ingest import (
        cms_ingest_sink,
    )

    src = tmp_path / "ev_src"
    src.mkdir()
    table = VersionedParquetTable(spark, str(tmp_path / "sketch"), "cms")
    schema = "user_id long"

    b1 = [(i % 5,) for i in range(40)]
    b2 = [(i % 3,) for i in range(30)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = cms_ingest_sink(
        stream, table, "user_id", checkpoint=str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = cms_ingest_sink(
        stream, table, "user_id", checkpoint=str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    union = spark.createDataFrame(b1 + b2, schema)
    batch_sketch = count_min_sketch(union, F.col("user_id"))
    streamed = table.read()
    # identical grids: the merge IS addition
    diff = (
        streamed.withColumnRenamed("cnt", "a")
        .join(batch_sketch.withColumnRenamed("cnt", "b"), ["seed", "bucket"], "full_outer")
        .filter(
            F.coalesce("a", F.lit(-1)) != F.coalesce("b", F.lit(-2))
        )
        .count()
    )
    assert diff == 0
    # and estimates dominate exact counts
    keys = union.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    est = cms_estimate(streamed, keys, "user_id").collect()
    assert all(r["est"] >= r["n"] for r in est)


def test_stream_static_enrichment(spark, tmp_path):
    from imdb_metacritic_data_warehouse_spark.streaming.joins import (
        enrich_stream_with_dim,
    )

    facts = [(1, 10, 5.0), (2, 20, 7.0), (3, 99, 1.0)]  # 99 has no dim row
    fdf = spark.createDataFrame(facts, "event_id long, dim_id long, value double")
    fdf.coalesce(1).write.parquet(str(tmp_path / "facts"))
    dim = spark.createDataFrame(
        [(10, "alpha"), (20, "beta")], "dim_id long, dim_name string"
    )
    fs = spark.readStream.schema("event_id long, dim_id long, value double").parquet(
        str(tmp_path / "facts")
    )
    enriched = enrich_stream_with_dim(fs, dim, "dim_id").select(
        "event_id", "dim_name"
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.dim_name)
        for r in spark.sql("SELECT * FROM enrich_out").collect()
    }
    # left join: unmatched fact survives with NULL dim_name (state-free
    # enrichment must never drop stream rows)
    assert got == {(1, "alpha"), (2, "beta"), (3, None)}


def test_streaming_hll_merge_across_batches_and_replay_idempotent(spark, tmp_path):
    """Two micro-batches MAX-merge into one committed register table
    equal to the batch-built sketch over the union; replaying a batch
    (at-least-once delivery) must NOT change the registers — the
    idempotence that makes HLL safer streaming state than the CMS sum."""
    from imdb_metacritic_data_warehouse_spark.operators.sketch import (
        hll_estimate,
        hll_register_maxes,
    )
    from imdb_metacritic_data_warehouse_spark.streaming.ingest import (
        hll_ingest_sink,
        merge_hll_batch,
    )

    src = tmp_path / "hll_src"
    src.mkdir()
    table = VersionedParquetTable(spark, str(tmp_path / "sketch"), "hll")
    schema = "grp string, user_id long"

    b1 = [("a", i) for i in range(300)]
    b2 = [("a", i) for i in range(200, 500)] + [("b", i) for i in range(50)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = hll_ingest_sink(
        stream, table, ["grp"], "user_id", checkpoint=str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = hll_ingest_sink(
        stream, table, ["grp"], "user_id", checkpoint=str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    union = spark.createDataFrame(b1 + b2, schema)
    batch_regs = {
        (r.grp, r.bucket): r.mj
        for r in hll_register_maxes(union, ["grp"], "user_id").collect()
    }
    streamed = {
        (r.grp, r.bucket): r.mj for r in table.read().collect()
    }
    assert streamed == batch_regs
    # replay batch 2 outside the checkpoint: registers must not move
    merge_hll_batch(table, spark.createDataFrame(b2, schema), ["grp"], "user_id")
    replayed = {(r.grp, r.bucket): r.mj for r in table.read().collect()}
    assert replayed == batch_regs
    est = {
        r.grp: r.hll_estimate
        for r in hll_estimate(table.read(), ["grp"]).collect()
    }
    assert abs(est["a"] - 500) < 100 and abs(est["b"] - 50) < 15


def test_streaming_cdc_sink_net_effect(spark, tmp_path):
    """readStream of an op-tagged change log → foreachBatch net-effect
    CDC apply: within-batch compaction by log offset, D-then-I nets to
    a replace, op mislabels (U on an unseen key) normalize to inserts,
    deletes really remove rows, and a later re-insert resurrects the key."""
    from imdb_metacritic_data_warehouse_spark.streaming.upsert import (
        cdc_streaming_sink,
    )

    src_dir = tmp_path / "cdc_src"
    src_dir.mkdir()
    tab = VersionedParquetTable(spark, str(tmp_path / "cdc_tables"), "acct")
    schema = "k long, v string, op string, seq long"

    def run_batch(rows, fname):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src_dir / fname))
        stream = spark.readStream.schema(schema).parquet(str(src_dir / fname))
        q = cdc_streaming_sink(
            stream, tab, "k", checkpoint=str(tmp_path / f"cdc_ckpt_{fname}")
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_batch([(1, "a1", "I", 1), (2, "b1", "I", 2)], "b1")
    run_batch(
        [
            (1, "a2", "U", 3),
            (2, None, "D", 4),
            (3, "c1", "I", 5),
            (3, "c2", "U", 6),   # same-batch compaction: c2 wins, nets to I
            (4, "d1", "U", 7),   # op mislabel: unseen key 'U' → insert
        ],
        "b2",
    )
    assert {r.k: r.v for r in tab.read().collect()} == {
        1: "a2", 3: "c2", 4: "d1",
    }
    run_batch([(2, "b2", "I", 8), (2, None, "D", 9), (2, "b3", "I", 10)], "b3")
    assert {r.k: r.v for r in tab.read().collect()} == {
        1: "a2", 2: "b3", 3: "c2", 4: "d1",
    }


def test_streaming_drift_daily_stats_match_batch_and_replay_idempotent(
    spark, tmp_path
):
    """Two micro-batches of events merge into committed content-keyed
    daily partials whose collapsed stats equal the batch aggregate of
    the union; re-delivering batch 2 through a FRESH checkpoint (the
    at-least-once failure mode that breaks plain sum-merges) must not
    change anything — same content → same keys → anti-joined away."""
    from imdb_metacritic_data_warehouse_spark.streaming.drift import (
        daily_stats,
        drift_ingest_sink,
        page_hinkley_curve,
    )

    src = tmp_path / "drift_src"
    src.mkdir()
    table = VersionedParquetTable(spark, str(tmp_path / "drift"), "daily")
    schema = "event_id long, ts timestamp, value double"

    def rows(day_offsets):
        out = []
        for k, (day, val) in enumerate(day_offsets):
            out.append((k + day * 1000, f"2024-01-{day:02d} 12:00:00", val))
        return out

    b1 = rows([(1, 10.0), (1, 20.0), (2, 30.0)])
    b2 = rows([(2, 5.0), (3, 40.0)])
    df1 = spark.createDataFrame(b1, "event_id long, ts string, value double")
    df1 = df1.withColumn("ts", F.to_timestamp("ts"))
    df1.coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = drift_ingest_sink(
        stream, table, checkpoint=str(tmp_path / "ck1")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    df2 = spark.createDataFrame(b2, "event_id long, ts string, value double")
    df2 = df2.withColumn("ts", F.to_timestamp("ts"))
    df2.coalesce(1).write.parquet(str(src / "b2"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = drift_ingest_sink(
        stream, table, checkpoint=str(tmp_path / "ck1")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    want = {
        ("2024-01-01", 2, 300000),
        ("2024-01-02", 2, 350000),
        ("2024-01-03", 1, 400000),
    }
    got = {
        (str(r.d), r.n, r.su) for r in daily_stats(table).collect()
    }
    assert got == want

    # re-deliver batch 2's exact content via a FRESH checkpoint (the
    # crash-after-commit-before-checkpoint failure mode: the same batch
    # arrives again).  Same content -> same keys -> anti-joined away.
    stream = spark.readStream.schema(schema).parquet(str(src / "b2"))
    q = drift_ingest_sink(
        stream, table, checkpoint=str(tmp_path / "ck2")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got2 = {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()}
    assert got2 == want

    # PH readout over the committed table: m is a prefix sum of
    # deviations; PH >= 0 and equals running-max - m
    curve = sorted(
        page_hinkley_curve(daily_stats(table), delta=0.0).collect(),
        key=lambda r: r.d,
    )
    assert len(curve) == 3
    mx = float("-inf")
    for r in curve:
        mx = max(mx, r.m_val)
        assert abs((mx - r.m_val) - r.ph_val) < 1e-9
        assert r.ph_val >= -1e-9


def test_drift_partials_value_keyed_and_compacting(spark, tmp_path):
    """ADVICE r7 pair: (a) the batch content key covers VALUES, not just
    ids — a re-delivered day batch with the same ids but corrected
    values must merge as new content, not vanish as a 'replay';
    (b) partials compact — old days collapse to one compacted row per
    day and the table stops growing one row per (day, batch), with
    incoming partials at-or-before the watermark dropped."""
    from imdb_metacritic_data_warehouse_spark.streaming.drift import (
        daily_stats,
        merge_daily_partials,
    )

    table = VersionedParquetTable(spark, str(tmp_path), "daily")

    def batch(rows):
        df = spark.createDataFrame(rows, "event_id long, ts string, value double")
        return df.withColumn("ts", F.to_timestamp("ts"))

    b = [(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-01 11:00:00", 20.0)]
    merge_daily_partials(table, batch(b))
    # exact replay: anti-joined away
    merge_daily_partials(table, batch(b))
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 2, 300000)
    }
    # same ids, corrected values: keys differ -> merged as new content
    b_fix = [(1, "2024-01-01 10:00:00", 11.0), (2, "2024-01-01 11:00:00", 20.0)]
    merge_daily_partials(table, batch(b_fix))
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 4, 610000)
    }

    # grow the calendar: 6 day-1..day-3 partial rows sit behind the
    # frontier once day 6 lands (lateness_days=2) -> compaction fires
    # with compact_after=3 and collapses them to one row per day.
    for day in (2, 2, 3, 6):
        merge_daily_partials(
            table,
            batch([(100 + day, f"2024-01-{day:02d} 09:00:00", 1.0)]),
            lateness_days=2,
            compact_after=3,
        )
    tab = table.read()
    old = tab.where(F.col("d") <= F.lit("2024-01-04"))
    assert old.count() == 3  # one compacted row per old day
    assert all(r.compacted for r in old.collect())
    n_before = tab.count()

    # a too-late re-delivery (day 1, below the watermark) is DROPPED —
    # the watermark contract — and the stats don't change.
    stats_before = {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()}
    merge_daily_partials(
        table,
        batch([(999, "2024-01-01 12:00:00", 50.0)]),
        lateness_days=2,
        compact_after=3,
    )
    assert table.read().count() == n_before
    assert {
        (str(r.d), r.n, r.su) for r in daily_stats(table).collect()
    } == stats_before


def test_drift_null_values_key_the_batch(spark, tmp_path):
    """ADVICE r8: rows whose value is NULL are skipped by the unit-sum,
    so two batches differing ONLY in null values must NOT collide to
    the same content key — the corrected re-delivery has to merge as
    new content.  All-non-null batches keep the r8 key format (no
    migration), which the replay-idempotence case above already pins."""
    from imdb_metacritic_data_warehouse_spark.streaming.drift import (
        daily_stats,
        merge_daily_partials,
    )

    table = VersionedParquetTable(spark, str(tmp_path), "daily")

    def batch(rows):
        df = spark.createDataFrame(rows, "event_id long, ts string, value double")
        return df.withColumn("ts", F.to_timestamp("ts"))

    # first delivery: value for id=2 is NULL (a broken extract)
    merge_daily_partials(
        table, batch([(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-01 11:00:00", None)])
    )
    # exact replay of the null-bearing batch: still anti-joined away
    merge_daily_partials(
        table, batch([(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-01 11:00:00", None)])
    )
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 2, 100000)
    }
    # corrected re-delivery: same ids, null filled in -> unit-sum AND
    # null-count differ -> new key -> merged (pre-fix these collided
    # whenever the non-null sums happened to match; the null-count term
    # separates them even when they don't, e.g. null -> 0.0)
    merge_daily_partials(
        table, batch([(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-01 11:00:00", 0.0)])
    )
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 4, 200000)
    }


def test_drift_legacy_table_folds_closed_days_keeps_open_window(spark, tmp_path):
    """ADVICE r8+r9: a table committed under the pre-r8 id-only key
    scheme (detectable: no `compacted` column) folds only its CLOSED
    days — d <= legacy frontier - lateness_days — behind the
    compaction watermark.  Re-deliveries into the closed range are
    dropped; the OPEN-window tail stays live so genuinely NEW events
    for the in-progress days still merge (the r9 medium finding: the
    r8 fold marked EVERY legacy row compacted, raising the watermark
    to the frontier and silently dropping fresh open-window data)."""
    from imdb_metacritic_data_warehouse_spark.streaming.drift import (
        daily_stats,
        merge_daily_partials,
    )

    table = VersionedParquetTable(spark, str(tmp_path), "daily")
    # hand-write a legacy table: id-only batch_key, no compacted column;
    # frontier = 01-05, so with lateness_days=2 only d <= 01-03 folds.
    legacy = spark.createDataFrame(
        [
            ("2024-01-01", 2, 300000, "legacy-id-only-key-a"),
            ("2024-01-05", 1, 70000, "legacy-id-only-key-b"),
        ],
        "d string, n long, su long, batch_key string",
    ).withColumn("d", F.to_date("d"))
    table.write(legacy)

    def batch(rows):
        df = spark.createDataFrame(rows, "event_id long, ts string, value double")
        return df.withColumn("ts", F.to_timestamp("ts"))

    # re-delivery of the pre-upgrade CLOSED day-1 batch: DROPPED
    # (folded behind the watermark), not double-counted
    merge_daily_partials(
        table, batch([(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-01 11:00:00", 20.0)])
    )
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 2, 300000),
        ("2024-01-05", 1, 70000),
    }
    # genuinely NEW events for the open-window day 01-05 MERGE — the
    # data the r8 fold lost.  (Bounded accepted risk, documented in the
    # module: a pre-upgrade batch re-delivered into this window would
    # double-count once, since its old-format key can't match.)
    merge_daily_partials(table, batch([(9, "2024-01-05 12:00:00", 3.0)]))
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 2, 300000),
        ("2024-01-05", 2, 100000),
    }
    # a NEW day merges normally under the current key format
    merge_daily_partials(table, batch([(3, "2024-01-06 09:00:00", 5.0)]))
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 2, 300000),
        ("2024-01-05", 2, 100000),
        ("2024-01-06", 1, 50000),
    }


def test_drift_v2_key_binds_values_to_ids(spark, tmp_path):
    """ADVICE r9: two batches for the same day with the same id set and
    the same unit-sum, but values PERMUTED between ids, must key
    differently — the v1 order-free (id-sum, value-sum) key collided
    there and wrongly dropped the second delivery as a replay.  New
    tables start at the v2 id:value-bound format, which separates
    them; an exact replay still dedups."""
    from imdb_metacritic_data_warehouse_spark.streaming.drift import (
        daily_stats,
        merge_daily_partials,
    )

    table = VersionedParquetTable(spark, str(tmp_path), "daily")

    def batch(rows):
        df = spark.createDataFrame(rows, "event_id long, ts string, value double")
        return df.withColumn("ts", F.to_timestamp("ts"))

    b1 = [(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-01 11:00:00", 20.0)]
    # same ids, same sum, values swapped between the ids
    b2 = [(1, "2024-01-01 10:00:00", 20.0), (2, "2024-01-01 11:00:00", 10.0)]
    merge_daily_partials(table, batch(b1))
    merge_daily_partials(table, batch(b2))
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 4, 600000)
    }
    # exact replays of both: still anti-joined away
    merge_daily_partials(table, batch(b1))
    merge_daily_partials(table, batch(b2))
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 4, 600000)
    }


def test_drift_v1_table_keeps_v1_keys(spark, tmp_path):
    """No-migration guarantee: a table committed under the v1 key
    format (has `compacted`, no `kf` column) keeps PRODUCING v1 keys,
    so a replay of a batch committed before the v2 format change still
    dedups byte-identically.  The test hand-computes the v1 key the r8
    code emitted and asserts the replay is dropped against it."""
    import hashlib
    import zlib

    from imdb_metacritic_data_warehouse_spark.streaming.drift import (
        daily_stats,
        merge_daily_partials,
    )

    table = VersionedParquetTable(spark, str(tmp_path), "daily")
    # the exact v1 key for batch [(1, 10.0), (2, 20.0)]: n=2,
    # su=300000, crc32 sum over the id strings, no null suffix
    crc_sum = zlib.crc32(b"1") + zlib.crc32(b"2")
    v1_key = hashlib.md5(f"2_300000_{crc_sum}".encode()).hexdigest()
    v1 = spark.createDataFrame(
        [("2024-01-01", 2, 300000, v1_key, False)],
        "d string, n long, su long, batch_key string, compacted boolean",
    ).withColumn("d", F.to_date("d"))
    table.write(v1)

    def batch(rows):
        df = spark.createDataFrame(rows, "event_id long, ts string, value double")
        return df.withColumn("ts", F.to_timestamp("ts"))

    # replay of the pre-change batch: keys v1 again -> dropped
    merge_daily_partials(
        table, batch([(1, "2024-01-01 10:00:00", 10.0), (2, "2024-01-01 11:00:00", 20.0)])
    )
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 2, 300000)
    }
    # new content merges, still under v1 (no kf column appears)
    merge_daily_partials(table, batch([(3, "2024-01-01 12:00:00", 1.0)]))
    assert {(str(r.d), r.n, r.su) for r in daily_stats(table).collect()} == {
        ("2024-01-01", 3, 310000)
    }
    assert "kf" not in table.read().columns


def test_streaming_contamination_index_matches_batch_twin(spark, tmp_path):
    """The streamed eval-set n-gram index (streaming/contamination.py)
    must reproduce the batch twin exactly: same per-doc wave-attributed
    overlap as contamination_wave_attribution_docs computes in one
    declarative plan — including under a wave REPLAY (set-union
    idempotence) and a late re-delivery of an early wave after a later
    one committed (first_wave is a MIN-merge: attribution stable)."""
    from imdb_metacritic_data_warehouse_spark.entry_queries.q19_lcs_contamination import (
        contamination_wave_attribution_docs,
    )
    from imdb_metacritic_data_warehouse_spark.streaming.contamination import (
        contamination_against_index,
        merge_eval_ngram_index,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.expr("doc_id div 9") % 3).cast("long").alias("wave"), "text"
    )

    table = VersionedParquetTable(spark, str(tmp_path), "eval_index")
    # waves arrive in order ...
    for w in (0, 1, 2):
        merge_eval_ngram_index(table, ev.where(F.col("wave") == w), wave=w)
    # ... then wave 1 is RE-DELIVERED (at-least-once), then wave 0 again
    # out of order: neither may change the index (anti-join + MIN-merge)
    merge_eval_ngram_index(table, ev.where(F.col("wave") == 1), wave=1)
    merge_eval_ngram_index(table, ev.where(F.col("wave") == 0), wave=0)

    streamed = contamination_against_index(
        docs.select("doc_id", "text"), table.read(), n=5, n_waves=3
    )
    batch = contamination_wave_attribution_docs(spark, sf_dir)
    cols = ["doc_id", "n_shingles", "hits_w0", "hits_w1", "hits_w2", "overlap_frac"]
    got = sorted(tuple(r) for r in streamed.select(*cols).collect())
    want = sorted(tuple(r) for r in batch.select(*cols).collect())
    assert got == want and len(got) > 0


def test_streaming_kmv_sketches_match_batch_twin_and_replay(spark, tmp_path):
    """Per-source KMV sketches built over two micro-batches (plus a
    REPLAY of the second through a fresh checkpoint) must equal the
    one-pass batch sketch — the min-merge is idempotent by algebra, so
    no content keying is involved."""
    from imdb_metacritic_data_warehouse_spark.streaming.kmv import (
        content_hash60,
        kmv_ingest_sink,
    )

    src = tmp_path / "kmv_src"
    src.mkdir()
    table = VersionedParquetTable(spark, str(tmp_path / "kmv"), "sketches")
    schema = "doc_id long, text string, source string"
    b1 = [(i, f"doc body {i} alpha", "sA") for i in range(40)] + [
        (100 + i, f"doc body {i} beta", "sB") for i in range(10)
    ]
    b2 = [(200 + i, f"more text {i} gamma", "sA") for i in range(50)] + [
        (300 + i, f"doc body {i} alpha", "sB") for i in range(5)  # overlap w/ sA
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = kmv_ingest_sink(stream, table, checkpoint=str(tmp_path / "ck1")).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = kmv_ingest_sink(stream, table, checkpoint=str(tmp_path / "ck1")).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    # replay batch 2 via a FRESH checkpoint: min-merge -> no change
    stream = spark.readStream.schema(schema).parquet(str(src / "b2"))
    q = kmv_ingest_sink(stream, table, checkpoint=str(tmp_path / "ck2")).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    # batch twin: one-pass k-min over the full union
    full = spark.createDataFrame(b1 + b2, schema)
    want = {
        r["source"]: list(r["l"])
        for r in full.select(
            "source", content_hash60(F.col("text")).alias("h")
        )
        .groupBy("source")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, 64).alias("l"))
        .collect()
    }
    got = {r["source"]: list(r["l"]) for r in table.read().collect()}
    assert got == want
    # the sA sketch saw 90 distinct docs but stays capped at k
    assert len(got["sA"]) == 64
