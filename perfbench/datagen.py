"""Seeded synthetic tables for the benchmark.

The benchmark runs in a plain checkout, so it cannot read the fixture
parquet the test-suite uses; it writes its own tables here, with the same
schemas and the same value domains (TPC-H-style star schema plus the
``events``, ``documents`` and ``embeddings`` tables, see TESTDATA.md).

Seed contract: the seed changes values and ids, never the amount of work.
Every row count is a function of the scale alone, and the shape of every
distribution (uniform keys, 10 embedding clusters, 10-100 token texts) is
fixed; only which values land where moves with the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# rows per unit of scale (sf1 = the TPC-H-style 1x size)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "red", "small", "large", "hot", "cold", "new", "old"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_DAY_US = 86_400 * 1_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale ``sf`` (independent of the seed)."""
    rows = {t: max(1, int(round(n * sf))) for t, n in ROWS_PER_SF.items()}
    rows.update(region=5, nation=25)
    return rows


def _ts(start: str, us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + us, type=pa.timestamp("us"))


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, n_days, n) * _DAY_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    nc, ns, np_, no, nl = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    pk = np.arange(np_, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(names[rng.integers(0, len(names), np_)]),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, np_).astype(str))),
        "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, no)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": rng.integers(0, max(150, ne // 66), ne),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}")),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # plant exact duplicates (0.2% of documents, like the fixture corpus)
    for i in rng.choice(nd, size=max(1, nd // 500), replace=False):
        texts[i] = texts[(i + 1) % nd]
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, nv: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    label = rng.integers(0, k, nv)
    x = centers[label] + rng.normal(scale=0.8, size=(nv, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
