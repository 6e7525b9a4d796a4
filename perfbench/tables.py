"""Seeded generator for the analytics tables the query_mix workload reads.

The queries take a directory of ``<table>.parquet`` files. The generator
writes the six tables the benchmark's 18 queries read, with the shapes of
the repository's TPC-H-style test data: row counts scale linearly with
``sf`` (lineitem = 6,000,000 x sf), ``documents`` draws its text from a
30-word vocabulary with 5% planted near-duplicates (a copy of another
document plus " dup"), ``events`` is a time-ordered 30-day stream with
exponential values, and ``embeddings`` are 64-dimensional unit vectors.

Only numpy and pyarrow are used; the same ``(sf, seed)`` gives the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(rng: np.random.Generator, n: int, start: str, days: int, ordered: bool) -> np.ndarray:
    us = rng.integers(0, days * 86_400_000_000, n)
    if ordered:
        us.sort()
    return np.datetime64(start, "us") + us.astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = []
    for _ in range(n):
        target = int(rng.integers(44, 578))
        words, length = [], -1
        while length < target - 4:
            w = _VOCAB[int(rng.integers(len(_VOCAB)))]
            words.append(w)
            length += len(w) + 1
        texts.append(" ".join(words))
    # 5% near-duplicates: another document's text plus " dup"
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out_dir: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404, ordered=False).astype("datetime64[D]").astype("datetime64[us]"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, int(200_000 * sf) or 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * sf) or 1, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2498, ordered=False).astype("datetime64[D]").astype("datetime64[us]"),
    })
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(rng, n_ev, "2024-01-01", 30, ordered=True),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        "customer": n_cust, "orders": n_ord, "lineitem": n_li,
        "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
