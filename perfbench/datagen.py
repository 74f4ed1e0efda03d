"""Seeded synthetic inputs for the benchmark.

The tables mirror the shape of the repo's TPC-H-like test data (same
names, columns, types and value ranges) at a fixed scale, so every
``workload.QUERIES`` entry and its ``ORACLE_SQL`` run unchanged on them.
The same ``seed`` always gives the same tables; a different seed gives
different keys, values, texts and vectors.

Row counts at scale 0.01 equal those of the test data's ``sf0.01``
tables (60k lineitem, 15k orders, 10k events, 500 documents, 500
embeddings). The documents follow the test data's measured text
distribution: the same 30-word vocabulary, 10-99 tokens per document
drawn uniformly (a median of about 55), every word in about 78% of the
documents, and about 5% planted near-duplicates ending in ``dup``. The
embeddings are 64-dimensional unit vectors with ten weak clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1 (lineitem is 6M at scale 1, as in TPC-H)
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_MIDNIGHT_US = 86_400 * 1_000_000


def _days(start: str, end: str) -> tuple:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _midnights(rng, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n).astype(np.int64)
    return pa.array(days * _MIDNIGHT_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx].tolist(), pa.string())


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = []
    for i in range(n):
        # ~5% of documents are planted near-duplicates of an earlier one
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    langs = ["en", "zh", "de", "fr", "es"]
    weights = np.array([218, 75, 70, 64, 73], dtype=float)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, langs, n, weights / weights.sum()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 0.02, (10, dim))
    x = rng.normal(0, 0.125, (n, dim)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def generate(out_dir: str, seed: int, scale: float) -> dict:
    """Write one ``<table>.parquet`` file per table into ``out_dir`` and
    return the row count of each."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * scale))) for t, r in _BASE_ROWS.items()}
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc, ns, npart, no, nl = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    })
    adjs = ["small", "red", "blue", "cold", "hot", "large", "green", "tiny"]
    nouns = ["ring", "widget", "bolt", "gizmo", "plate", "rod", "nut", "gear"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (npart, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
        "o_orderdate": _midnights(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _midnights(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * _MIDNIGHT_US
    ts = start + np.sort(rng.integers(0, span, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * scale)), ne).astype(np.int64)),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], ne),
        "value": pa.array(_money(rng, ne, 0.01, 490.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
