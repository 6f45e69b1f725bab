"""Seeded synthetic tables for the benchmark.

Writes the ten tables the cube registry and the pipeline operators read
(``region nation customer supplier part orders lineitem events documents
embeddings``), one parquet file each, with the column names, types and
value domains of the project's test data: a TPC-H-like star over
1995-01-01 .. 2001-11-04, a 30-day event stream in January 2024, a
word-salad document corpus with ~5% near-duplicates (a copy of an
earlier document plus the token ``dup``), and unit-norm 64-d embeddings
in ten weak clusters.

The same arguments always give the same rows: every column is drawn
from one ``numpy`` PCG64 stream in a fixed order.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

LI_START = dt.datetime(1995, 1, 2)
LI_DAYS = 2499                      # .. 2001-11-04
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404                   # .. 2001-08-01
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_US = 30 * 86_400 * 1_000_000
EMBED_DIM = 64
DUP_SHARE = 0.05


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(offsets_us.astype(np.int64) + base, pa.timestamp("us"))


def _days(rng: np.random.Generator, start: dt.datetime, span: int,
          n: int) -> pa.Array:
    return _ts(start, rng.integers(0, span + 1, n) * 86_400 * 1_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype(np.int32)
    noise = rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs = 0.15 * centers[labels] + noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM,
                                 dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    })


def build_tables(seed: int, sf: float, n_docs: int,
                 n_vecs: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem = 6M x sf rows)
    with a corpus of ``n_docs`` documents and ``n_vecs`` embeddings."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ev = int(200_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)],
                           pa.string()),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)],
                           pa.string()),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, ORDER_START, ORDER_DAYS, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, LI_START, LI_DAYS, n_li)})
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EVENT_START, np.sort(rng.integers(0, EVENT_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)], pa.string())})
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write_dataset(out_dir: str, seed: int, sf: float, n_docs: int,
                  n_vecs: int) -> str:
    """Write the tables under ``out_dir`` unless a complete copy is
    already there; returns ``out_dir``."""
    marker = os.path.join(out_dir, "_READY")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf, n_docs, n_vecs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"{seed} {sf} {n_docs} {n_vecs}\n")
    return out_dir
