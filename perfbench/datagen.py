"""Seeded generator for the relational corpus the catalog queries read.

Writes one parquet file per table (``region nation customer supplier part
orders lineitem events documents embeddings``) with the schemas and value
domains of the engine's test corpus (see FIXTURES.md at the repo root):
TPC-H-shaped star tables, an ``events`` stream, a bag-of-words
``documents`` table in which 5% of documents are near-duplicates of
another (the original text plus a trailing ``dup`` token), and unit-norm
64-d ``embeddings``. The same ``seed`` and ``sf`` always give the same
bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5% near-duplicates: another document's text plus one extra token
    n_dup = n // 20
    dup_rows = rng.choice(n, size=n_dup, replace=False)
    for row in dup_rows:
        src = int(rng.integers(0, n))
        if src == row:
            src = (src + 1) % n
        texts[row] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the corpus at scale factor ``sf`` into ``out_dir``; returns
    the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
        }
    )
    # strictly increasing microsecond timestamps over January 2024
    gaps = rng.integers(1, 2 * 30 * _DAY_US // n_evt, n_evt)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_evt),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
