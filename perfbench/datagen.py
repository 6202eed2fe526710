"""Seeded generator for the query workloads' input tables.

Writes the ten TPC-H-ish tables the registered queries read (``region
nation customer supplier part orders lineitem events documents
embeddings``) with the column names, arrow types and value domains of
the engine's reference test data, so every query and its DuckDB oracle
run unchanged against the generated directory.  Row counts scale
linearly with ``sf`` (sf=0.01 gives 60k lineitem rows).  The same
``(seed, sf)`` always yields byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, span_days, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    flag = rng.integers(0, 3, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flag],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, span_days + 95, n_line) * _DAY_US),
    })
    # Poisson arrivals over 30 days: ts increases with event_id.
    gaps = rng.exponential(30 * _DAY_US / n_evt, n_evt)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    out["documents"] = _documents(rng, n_doc)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    """Random-vocabulary texts, 10-99 words, with planted exact and
    near duplicates so the dedup families have pairs to find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(root: str, seed: int, sf: float) -> int:
    """Write every table as ``<root>/<name>.parquet``; returns bytes written."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, tab in tables(seed, sf).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total
