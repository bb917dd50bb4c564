"""Seeded generator for the ten input tables the engine's queries read.

The tables mirror the schemas, key ranges and value distributions of the
engine's TPC-H-like test data (region nation customer supplier part
orders lineitem events documents embeddings), so every registered query
and its DuckDB oracle run unchanged. The same ``(seed, sf)`` always
writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
DUP_FRACTION = 0.05

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_FRACTION:
            # near-duplicate of an earlier document: same words plus a marker
            src = texts[int(rng.integers(0, i))]
            texts.append(src if src.endswith(" dup") else src + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory for scale factor ``sf`` (0.1 → 600k
    lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = int(15_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = np.int32, np.int64
    out: dict[str, dict] = {}
    out["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=i32)),
                     "r_name": pa.array(REGIONS)}
    out["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype=i32)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5)}
    out["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist()),
    }
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp)),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = {
        "p_partkey": pa.array(np.arange(n_part, dtype=i64)),
        "p_name": pa.array(rng.choice(names, n_part).tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    }
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days(rng, 0, 2404, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist()),
    }
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": pa.array(_days(rng, 1, 2499, n_line)),
    }
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(i64)
    ts = _EPOCH_2024 + np.minimum(np.cumsum(gaps), 30 * _DAY_US - 1).astype("timedelta64[us]")
    out["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=i64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(i64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    out["documents"] = _documents(rng, n_docs)
    vecs = rng.normal(size=(n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec, dtype=i64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(i32)),
    }
    return {name: pa.table(cols) for name, cols in out.items()}


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write ``<table>.parquet`` files for every table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
