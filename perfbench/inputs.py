"""Seeded base tables for the benchmark.

The engine derives its ``sequences`` and ``probes`` tables from two base
tables, ``documents`` and ``orders`` (see ``uncharted_ta1_spark.datagen``).
This module writes both from a seed, with fixed row counts, so every seed
gives the same amount of work and a different content:

* ``documents``: ``n_docs`` rows, ``doc_id`` 0..n_docs-1, a seeded text of
  5..103 words from a small vocabulary (mean ~54 words, like the test
  tiers), a seeded ``srcN`` source.  The datagen rule ``doc_id % 50 = 0 ->
  12 replicas`` keeps its hot keys because the ids are dense.
* ``orders``: ``n_orders`` rows, ``o_orderkey`` 0..n_orders-1, a seeded
  ``o_custkey``.  One probe is derived per order.

``datagen.register_base_tables`` registers all ten base tables of the test
tiers; the eight the sequence/probe derivations never read are written as
one-row placeholders.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the big small fast slow batch stream spark scan sort merge join hash "
    "agg group order part line column table value key vector query filter "
    "window lag lead session probe state token source event time feature "
    "bucket commit resume serve upsert snapshot manifest partition shuffle"
).split()

UNUSED_TABLES = (
    "region", "nation", "customer", "supplier", "part", "lineitem",
    "events", "embeddings",
)


def write_base_tables(out_dir: str, seed: int, n_docs: int, n_orders: int) -> None:
    """Write ``documents`` and ``orders`` (plus placeholders) as parquet."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(VOCAB)
    n_words = rng.integers(5, 104, size=n_docs)
    words = vocab[rng.integers(0, len(vocab), size=int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - n:e]) for n, e in zip(n_words, ends)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(
            rng.integers(0, max(n_orders // 10, 1), size=n_orders, dtype=np.int64)
        ),
    })
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))
    for name in UNUSED_TABLES:
        pq.write_table(
            pa.table({"unused": pa.array([0], type=pa.int64())}),
            os.path.join(out_dir, f"{name}.parquet"),
        )
