"""Seeded input generator for the benchmark.

Writes the four tables the benchmark steps read (``events``, ``customer``,
``documents``, ``embeddings``) as parquet, with the same Arrow schema as the
engine's synthetic test tables (TESTDATA.md) and the same value
distributions:

- ``events``: uniform event types over 30 days from 2024-01-01, microsecond
  timestamps, ``event_id`` dense in timestamp order, exponential ``value``
  (mean 50, 2 dp), ``props`` = ``{"k": 0..99}``.
- ``customer``: dense ``c_custkey``, 25 nations, 5 market segments.
- ``documents``: 10-100 words from a 30-word vocabulary; 5% are copies of
  another document with `` dup`` appended (the near-duplicate plant).
- ``embeddings``: 64-dim unit-norm float32 vectors with labels 0-9.

Keys stay dense and unique for every seed; the seed changes the values,
the planted duplicates and the physical row order of every file.

Usage: python3 perfbench/gen.py OUT_DIR SEED
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("events", "customer", "documents", "embeddings")

N_EVENTS = 10_000
N_USERS = 150
N_CUSTOMERS = 15_000
N_DOCS = 500
N_VECTORS = 500
DIM = 64

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


def _shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _events(rng: np.random.Generator) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, N_EVENTS))
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(start + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS).tolist()),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )


def _customer(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMERS).tolist()),
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(N_DOCS)
    ]
    dups = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    dup_set = set(dups.tolist())
    originals = [i for i in range(N_DOCS) if i not in dup_set]
    for d in dups:
        texts[d] = texts[originals[int(rng.integers(len(originals)))]] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P).tolist()),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    x = rng.standard_normal((N_VECTORS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECTORS, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECTORS, dtype=np.int32)),
        }
    )


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table for ``seed`` into ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": _events,
        "customer": _customer,
        "documents": _documents,
        "embeddings": _embeddings,
    }
    rows = {}
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        table = _shuffled(makers[name](rng), rng)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2])))
