"""Seeded synthetic inputs for the benchmark.

Writes the ten parquet tables the program reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
with the same column names, types and value distributions as the
TPC-H-ish testdata the repository's oracle gate uses. Every random
choice comes from one ``numpy`` generator seeded with ``seed``, so the
same seed writes the same tables.

``scale`` multiplies the sf0.001 row counts of the TPC-H and event
tables. The document and embedding corpora have fixed sizes: 500
documents, as at sf0.001 and sf0.01, and 2000 embeddings, as at sf0.1,
the corpus size ``bench.py``'s recall gates were set on.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

N_DOCUMENTS = 500
N_EMBEDDINGS = 2000
EMBEDDING_DIM = 64

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def make_tables(seed: int, scale: int) -> dict[str, pd.DataFrame | pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_users = 15 * scale
    i32 = np.int32

    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 20000) * 0.1, 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    t0 = np.datetime64("2024-01-01", "us")
    span_us = 30 * 24 * 3600 * 10**6
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def _documents(rng: np.random.Generator) -> pd.DataFrame:
    """Token-soup documents; one in twenty is an earlier document with
    one or two ``dup`` tokens appended, the near-duplicates the dedup
    kernels must find."""
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pd.DataFrame:
    """Unit vectors scattered around ten weak label centroids."""
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centroids = rng.normal(0.0, 1.0, (10, EMBEDDING_DIM))
    v = rng.normal(0.0, 1.0, (N_EMBEDDINGS, EMBEDDING_DIM)) + 0.15 * centroids[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, scale: int) -> str:
    """Write the tables under ``out_dir`` once; later calls with the same
    arguments reuse them. Returns ``out_dir``."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, scale).items():
        table = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"seed={seed} scale={scale}\n")
    return out_dir
