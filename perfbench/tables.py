"""Seeded star-schema tables for the headline query corpus.

The corpus (``queries.corpus.headline_queries``) reads the ten tables of
``sources.tables.STAR_TABLES``. This module writes them as one Parquet
file each, with the column names and types of the repository's test
data (TESTDATA.md, FIXTURES.md section 3), at ``scale`` times the row
counts of its sf0.01 set. Values are drawn from the seed: the same
(seed, scale) always writes the same tables.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {  # row counts of the sf0.01 set
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "error", "login")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window order data column join small customer query big filter plan stage task"
).split()
EMBEDDING_DIM = 64
NEAR_DUP_SHARE = 0.2  # documents that copy an earlier one with a few words changed


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offsets = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offsets, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    docs: list[str] = []
    for k in range(n):
        if k and rng.random() < NEAR_DUP_SHARE:
            words = docs[int(rng.integers(k))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(20, 100)))]
        docs.append(" ".join(words))
    return docs


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n = {name: max(1, int(rows * scale)) for name, rows in ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n["customer"])],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), i64),
            "p_name": [f"{WORDS[a]} {WORDS[b]}" for a, b in rng.integers(0, len(WORDS), (n["part"], 2))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": [("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL")[k] for k in rng.integers(0, 5, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + np.arange(n["part"]) % 1000 * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, n["orders"], 1000, 500000),
            "o_orderdate": _ts(rng, n["orders"], "1992-01-01", 2400),
            "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n["orders"])],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, n["lineitem"], 900, 100000),
            "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n["lineitem"])],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n["lineitem"])],
            "l_shipdate": _ts(rng, n["lineitem"], "1992-01-01", 3000),
        }),
    }
    gaps = rng.integers(1, 600_000_000, n["events"])  # microseconds between events
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n["events"]), i64),
        "ts": pa.array(np.datetime64(datetime.datetime(2024, 1, 1), "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 100, n["events"]), i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), n["events"])],
        "value": _money(rng, n["events"], 0, 100),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    docs = _documents(rng, n["documents"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n["documents"]), i64),
        "text": docs,
        "lang": ["en"] * len(docs),
        "source": [f"src{k % 10}" for k in range(len(docs))],
        "n_chars": pa.array([len(d) for d in docs], i64),
    })
    emb = rng.standard_normal((n["embeddings"], EMBEDDING_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32),
    })
    return out


def write_tables(root: str, seed: int, scale: float) -> None:
    os.makedirs(root, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
