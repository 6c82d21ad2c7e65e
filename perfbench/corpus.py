"""Seeded corpus for the batch mix: the four tables its queries read.

Schemas follow FIXTURES.md (documents, embeddings, orders, lineitem);
the statistical shape follows the fixed test corpora: documents of
10-99 words over a small vocabulary with near-duplicate and exact
copies (so the dedup operators find work), unit-norm 64-dim
embeddings with 10 labels, and 1-7 line items per order over a part
catalogue small enough that baskets share parts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window tweet"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DIM = 64
TABLES = ("documents", "embeddings", "orders", "lineitem")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array(
            [f"src{k}" for k in rng.integers(0, 20, size=n)], pa.string()
        ),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def _orders_lineitem(
    rng: np.random.Generator, n_orders: int
) -> tuple[pa.Table, pa.Table]:
    day_us = 86_400_000_000
    t0 = 852_076_800_000_000  # 1997-01-01 in epoch microseconds
    n_cust, n_part, n_supp = max(10, n_orders // 10), 200, 10
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_orders)),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1e3, 4e5, size=n_orders), 2)
        ),
        "o_orderdate": pa.array(
            t0 + rng.integers(0, 2000, size=n_orders) * day_us,
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(
            rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                size=n_orders,
            )
        ),
    })
    lines = rng.integers(1, 8, size=n_orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n), pa.int64()),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n)),
        "l_shipdate": pa.array(
            t0 + rng.integers(0, 2100, size=n) * day_us, pa.timestamp("us")
        ),
    })
    return orders, lineitem


def write_corpus(out_dir: str, seed: int, docs: int, vecs: int, orders: int) -> None:
    """Write `<table>.parquet` for every table in TABLES under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    o, li = _orders_lineitem(rng, orders)
    tables = {
        "documents": _documents(rng, docs),
        "embeddings": _embeddings(rng, vecs),
        "orders": o,
        "lineitem": li,
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
