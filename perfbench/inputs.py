"""Seeded input tables for the benchmark.

Writes one single-row-group parquet file per table, with the same
schema, key ranges and value distributions as the engine's synthetic
test tables: ``documents`` (word-salad text over a 30-word vocabulary,
5% near-duplicate rewrites), and the TPC-H-like ``customer``,
``supplier`` and ``orders``. Every value and the row order come from
``--seed``: the same seed gives byte-identical tables, and a different
seed changes both the contents and which rows share a partition. The
oracle twins read the same files, so results stay checkable for any
seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
NEAR_DUP_SHARE = 0.05
FIRST_ORDER_DAY = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - FIRST_ORDER_DAY).astype(np.int64)) + 1


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < NEAR_DUP_SHARE:
            # Near duplicate of an earlier document: first word swapped,
            # marker word appended, so shingle sets overlap heavily.
            words = texts[int(rng.integers(0, i))].split()
            words[0] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append("dup")
        else:
            idx = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            words = [VOCAB[j] for j in idx]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, size=n).tolist(),
        }
    )


def _supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def _orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    days = FIRST_ORDER_DAY + rng.integers(0, ORDER_DAYS, size=n)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, size=n).astype(np.int64),
            "o_orderstatus": rng.choice(STATUSES, size=n).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": pa.array(days.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, size=n).tolist(),
        }
    )


def generate(out_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, int]:
    """Write ``<table>.parquet`` for each table named in ``sizes``
    (row counts) under ``out_dir``; return the row count per table."""
    rng = np.random.default_rng(seed)
    makers = {
        "documents": lambda n: _documents(rng, n),
        "customer": lambda n: _customer(rng, n),
        "supplier": lambda n: _supplier(rng, n),
        "orders": lambda n: _orders(rng, n, sizes["customer"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for name in ("documents", "customer", "supplier", "orders"):
        if name not in sizes:
            continue
        table = makers[name](sizes[name])
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        written[name] = table.num_rows
    return written
