"""Seeded synthetic tables for the benchmark.

The tables have the schemas of the repository's test tables
(TESTDATA.md) that the query library reads (``documents``, ``orders``,
``lineitem``, ``events``, ``embeddings``), so every registered query
and its DuckDB twin run on them unchanged.  Their CONTENT is fixed (``CONTENT_SEED``):
the workload seed only permutes row order, so a seed never changes the
amount of work, only the order it arrives in.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240130

# the vocabulary of the test documents table (a closed set of short
# engine words), so k-gram and shingle statistics look alike
VOCAB = (
    "a the key agg row scan slow fast table value part hash batch window "
    "spark order data column join small big line customer query filter "
    "group vector merge sort stream"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
N_SOURCES = 20
NEAR_DUP_FRAC = 0.08  # share of docs that copy an earlier doc with edits


def _write(table: pa.Table, path: str, order: np.ndarray) -> None:
    pq.write_table(table.take(pa.array(order)), path)


def _documents(n_docs: int) -> pa.Table:
    rng = np.random.default_rng(CONTENT_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_DUP_FRAC:
            # near-duplicate of an earlier doc: one or two word edits,
            # so the dedup and cluster jobs find real pairs
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
        else:
            n = int(rng.integers(8, 101))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{j}" for j in rng.integers(0, N_SOURCES, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _orders_lineitem(n_orders: int) -> tuple[pa.Table, pa.Table]:
    rng = np.random.default_rng(CONTENT_SEED + 1)
    day0 = np.datetime64("1995-01-01")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders, p=[0.45, 0.45, 0.1]),
        "o_totalprice": np.round(rng.uniform(900, 500000, n_orders), 2),
        "o_orderdate": pa.array(
            day0 + rng.integers(0, 7 * 365, n_orders).astype("timedelta64[D]"),
            pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    per_order = rng.integers(1, 8, n_orders)
    n = int(per_order.sum())
    qty = rng.integers(1, 51, n).astype("float64")
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(
            day0 + rng.integers(0, 7 * 365, n).astype("timedelta64[D]"),
            pa.timestamp("us")),
    })
    return orders, lineitem


def _events(n_events: int) -> pa.Table:
    rng = np.random.default_rng(CONTENT_SEED + 2)
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64(start, "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_events // 7), n_events), pa.int64()),
        "event_type": rng.choice(["click", "view", "signup", "error", "purchase"], n_events),
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def _embeddings(n_vecs: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    rng = np.random.default_rng(CONTENT_SEED + 3)
    centers = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_vecs, dim))).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, int]:
    """Write the tables named in ``sizes`` as ``<out_dir>/<name>.parquet``
    with rows in seed-permuted order.  ``sizes`` keys: documents,
    orders (also writes lineitem), events, embeddings.  Returns the row
    count of every table written."""
    os.makedirs(out_dir, exist_ok=True)
    perm = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}
    if "documents" in sizes:
        tables["documents"] = _documents(sizes["documents"])
    if "orders" in sizes:
        tables["orders"], tables["lineitem"] = _orders_lineitem(sizes["orders"])
    if "events" in sizes:
        tables["events"] = _events(sizes["events"])
    if "embeddings" in sizes:
        tables["embeddings"] = _embeddings(sizes["embeddings"])
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"),
               perm.permutation(table.num_rows))
    return {name: t.num_rows for name, t in tables.items()}


def flat_documents(path: str) -> list[tuple[int, str]]:
    """(doc_id, text) rows of a written documents table — the input of
    the pure-Python extraction oracle."""
    t = pq.read_table(path, columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
