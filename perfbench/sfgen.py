"""Seeded generator for the operator suite's input tables.

Writes the star-schema tables (region, nation, customer, orders, lineitem),
the ``events`` stream table, the ``documents`` corpus (with exact and
near-duplicate documents) and the ``embeddings`` table, one parquet file
each, in the shapes the suite's queries and their DuckDB oracles read.
The same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
    "documents": 1_000,
    "embeddings": 500,
}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
VOCAB = (
    "a the of and to in is it spark stream batch table key value row column "
    "data query join filter group agg sort hash scan order part line merge "
    "window vector customer big small fast slow"
).split()
DIM = 64
US_PER_DAY = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.01:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.11:  # near copy: a few tokens rewritten
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(toks), size=min(3, len(toks)), replace=False):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = rng.choice(len(LANGS), size=n, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in langs], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_tables(root: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    s = SIZES

    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = s["customer"]
    _write(root, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    no = s["orders"]
    epoch_1992 = 8035 * US_PER_DAY  # 1992-01-01 in days since 1970
    _write(root, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 400_000, no), 2), pa.float64()),
        "o_orderdate": _ts(epoch_1992 + rng.integers(0, 3650, no) * US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    _write(root, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2_000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2_000, nl), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), nl), pa.string()),
        "l_shipdate": _ts(epoch_1992 + rng.integers(0, 3650, nl) * US_PER_DAY),
    })
    ne = s["events"]
    start_2024 = 19723 * US_PER_DAY  # 2024-01-01
    _write(root, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(start_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, ne))),
        "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    _write(root, "documents", _documents(rng, s["documents"]))
    nv = s["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.15, (10, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (nv, DIM))).astype("float32")
    _write(root, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
