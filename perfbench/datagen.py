"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the registry operators read (``region`` ... ``embeddings``)
as one parquet file each, with the schemas and value domains of the project's
TPC-H-shaped test data: same column names and types, same categorical
vocabularies, uniform keys, a 5% near-duplicate and a small exact-duplicate
share in ``documents``, unit-norm 64-d ``embeddings``. The same (seed, sf)
always yields byte-identical values.

``sf`` scales the row counts the way the test data does:
lineitem = 6,000,000 * sf, orders = 1,500,000 * sf, ...
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# 1995-01-01 .. 2001-08-01 and the 30 days of 2024-01 in epoch microseconds
_DAY_US = 86_400 * 1_000_000
_ORDER_START_US = 788_918_400 * 1_000_000
_ORDER_DAYS = 2404
_EVENT_START_US = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_ORDER_START_US + rng.integers(0, _ORDER_DAYS, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_ORDER_START_US + rng.integers(1, _ORDER_DAYS + 95, n_line) * _DAY_US),
    })
    ev_ts = np.sort(_EVENT_START_US + rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    t["documents"] = pa.table(_documents(rng, n_docs))
    vec = rng.standard_normal((n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> dict:
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in rng.integers(10, 101, n)]
    # 5% near duplicates: a copy of another document with the token "dup"
    # inserted at a random position; then a few exact duplicates.
    for i in rng.choice(n, n // 20, replace=False):
        src = texts[int(rng.integers(0, n))].split()
        src.insert(int(rng.integers(0, len(src) + 1)), "dup")
        texts[i] = " ".join(src)
    for i in rng.choice(n, max(2, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write every table under ``out_dir`` and return {name: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in make_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths[name] = path
    return paths
