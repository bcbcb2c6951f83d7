"""Seeded synthetic inputs with the schema of the warehouse's parquet tables.

The tables mirror the shapes the query registry reads (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``): the same column
names and parquet types, one file and one row group per table, uniform key
and value distributions, 30 days of events, word-soup documents with about
5 % near-duplicates, and 64-dimensional unit embeddings clustered by label.
The same ``(sf, seed)`` always writes byte-identical values.

Row counts follow the scale factor: 6,000,000 x sf lineitem rows,
1,500,000 x sf orders, 1,000,000 x sf events. Documents and embeddings
stay at 500 rows up to sf0.01.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000
_ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
_ORDER_DAYS = 2404  # through 2001-08-01
_EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
_EVENT_SPAN_US = 30 * _DAY_US


def row_counts(sf: float) -> dict[str, int]:
    small = sf <= 0.01
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": 500 if small else 5000,
        "embeddings": 500 if small else 2000,
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )

    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )

    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )

    npart = n["part"]
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), npart)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), npart)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )

    no = n["orders"]
    order_day = rng.integers(0, _ORDER_DAYS, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(_ORDER_EPOCH_US + order_day * _DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )

    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(
                _ORDER_EPOCH_US + rng.integers(0, _ORDER_DAYS + 95, nl) * _DAY_US
            ),
        }
    )

    ne = n["events"]
    users = max(15, ne // 67)
    ts = np.sort(_EVENT_EPOCH_US + rng.integers(0, _EVENT_SPAN_US, ne))
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, ne), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.gamma(2.0, 50.0, ne) + 0.01, 2),
            "props": props,
        }
    )

    nd = n["documents"]
    vocab = np.array(WORDS)
    texts: list[str] = []
    for k in range(nd):
        if k >= 50 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 100))]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
            "source": np.char.add("src", (np.arange(nd) % 20).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(scale=0.8, size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, i32),
        }
    )
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
