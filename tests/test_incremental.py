"""Incremental mart maintenance: merge(partial states) ≡ full recompute.

The operator's contract is inductive — folding batches one at a time
into the state must land on exactly the aggregate a full scan would
produce, for any batch split.  (SURVEY.md §2.9's write path rebuilds
marts from full scans, ddl.py:559-570; this is the delta-bounded
replacement.)
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from imdb_metacritic_data_warehouse_spark.operators.incremental import (
    incremental_refresh,
    merge_state,
    partial_state,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

def _spec():
    # built lazily: Column construction needs an active SparkContext
    return {
        "n": ("sum", F.lit(1).cast("long")),
        "sum_price": ("sum", F.col("o_totalprice").cast("decimal(18,4)")),
        "min_price": ("min", F.col("o_totalprice")),
        "max_price": ("max", F.col("o_totalprice")),
    }


KEYS = ["o_orderpriority"]


def _rows(df):
    out = {}
    for r in df.collect():
        out[r["o_orderpriority"]] = (
            r["n"],
            float(r["sum_price"]),
            r["min_price"],
            r["max_price"],
        )
    return out


def test_three_batch_fold_equals_full_scan(spark):
    spec = _spec()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    # arbitrary 3-way split on the key's hash — batches are disjoint,
    # cover everything, and interleave every group
    b = [orders.filter(F.abs(F.hash("o_orderkey")) % 3 == i) for i in range(3)]

    state = None
    for batch in b:
        state = incremental_refresh(state, batch, KEYS, spec)

    full = partial_state(orders, KEYS, spec)
    assert _rows(state) == _rows(full)


def test_merge_is_order_insensitive(spark):
    spec = _spec()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    early = orders.filter(F.col("o_orderdate") < "1997-01-01")
    late = orders.filter(F.col("o_orderdate") >= "1997-01-01")
    s_early = partial_state(early, KEYS, spec)
    s_late = partial_state(late, KEYS, spec)
    ab = merge_state(s_early, s_late, KEYS, spec)
    ba = merge_state(s_late, s_early, KEYS, spec)
    assert _rows(ab) == _rows(ba)


def test_empty_delta_is_identity(spark):
    spec = _spec()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    state = partial_state(orders, KEYS, spec)
    refreshed = incremental_refresh(state, orders.filter(F.lit(False)), KEYS, spec)
    assert _rows(refreshed) == _rows(state)


def test_streaming_incremental_mart_refresh(spark, tmp_path):
    """readStream → foreachBatch incremental_refresh → versioned mart
    state.  The streaming mart must equal a full batch recompute over
    everything ingested — the same mergeable-state contract as
    the tests above, now maintained per micro-batch (refresh
    cost bounded by the epoch's delta, not the accumulated history)."""
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
