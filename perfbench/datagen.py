"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column types and value ranges of the engine's sf0.1 test data.
The same seed gives byte-identical tables; every benchmark run reads the
tables of ``DATA_SEED``, so runs differ only in what their own seed
picks (orders, splits, labels), never in their inputs. The engine only
ever sees the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at sf0.1 (``documents``/``embeddings`` do not scale)
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DATA_SEED = 1
N_USERS = 1_500
N_SOURCES = 20
EMBED_DIM = 64


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; 5% are a copy of an earlier document with
    one extra token (near-duplicates), a few more are exact copies."""
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n)
    ]
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n // 2)] + " dup"
    for i in rng.choice(np.arange(n // 2, n), 8, replace=False):
        texts[i] = texts[rng.integers(0, n // 2)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _events(rng, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def make_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every table as an in-memory arrow table, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = SIZES
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(n["customer"])),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": pa.array(_money(rng, n["customer"], -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(n["supplier"])),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": pa.array(_money(rng, n["supplier"], -999.99, 9999.99)),
        }),
    }
    np_ = n["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table({
        "p_partkey": i64(range(np_)),
        "p_name": _pick(rng, names, np_),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, P_TYPES, np_),
        "p_size": i32(rng.integers(1, 51, np_)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) / 10, 2)),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(range(no)),
        "o_custkey": i64(rng.integers(0, n["customer"], no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-12-31")),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, np_, nl)),
        "l_suppkey": i64(rng.integers(0, n["supplier"], nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
        "l_discount": pa.array(_money(rng, nl, 0.0, 0.1)),
        "l_tax": pa.array(_money(rng, nl, 0.0, 0.08)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-12-31")),
    })
    out["events"] = _events(rng, n["events"])
    out["documents"] = _documents(rng, n["documents"])
    ne = n["embeddings"]
    vec = rng.standard_normal((ne, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(range(ne)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, ne)),
    })
    return out


def write_tables(out_dir: str) -> dict[str, pa.Table]:
    """Write every table of ``DATA_SEED`` to ``out_dir/<name>.parquet``;
    returns them."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables()
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
