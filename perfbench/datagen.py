"""Seeded synthetic inputs for the benchmark.

Every table is a pure function of ``(seed, scale, order_days)``: the
star schema the registry queries read (``region`` … ``lineitem``,
``events``, ``documents``, ``embeddings``, one parquet file each, with
the column names and value domains of the test fixtures in TESTDATA.md).
Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_LAG_MAX = 121  # l_shipdate = o_orderdate + 1..121 days
SHIP_START = ORDER_START + dt.timedelta(days=1)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = (
    "a the data table query spark join filter scan sort merge window hash "
    "key value row column part order line customer batch stream group agg "
    "big small fast slow vector"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
EMBED_DIM = 64


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (1.0 ≙ TPC-H sf1 shapes)."""
    return {
        "customer": max(50, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(50, int(200_000 * scale)),
        "orders": max(200, int(1_500_000 * scale)),
        "lineitem": max(800, int(6_000_000 * scale)),
        "events": max(200, int(200_000 * scale)),
        "documents": max(200, int(50_000 * scale)),
        "embeddings": max(200, int(20_000 * scale)),
    }


def _ts(days: np.ndarray, start: dt.datetime = ORDER_START) -> pa.Array:
    base = int((start - EPOCH).total_seconds()) * 1_000_000
    us = base + days.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _words(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def star_tables(seed: int, scale: float, order_days: int = ORDER_DAYS) -> dict[str, pa.Table]:
    """``order_days`` narrows the order-date range (and with it the number
    of distinct ship days) without changing any value domain."""
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    nc, ns, npart, no, nl = (n[k] for k in
                             ("customer", "supplier", "part", "orders", "lineitem"))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    retail = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    odays = rng.integers(0, order_days, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    okey = np.sort(rng.integers(0, no, nl))
    idx = np.arange(nl)
    first = np.r_[True, okey[1:] != okey[:-1]]
    linenum = (idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1).astype(np.int32)
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] + rng.uniform(0, 2, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odays[okey] + rng.integers(1, SHIP_LAG_MAX + 1, nl)),
    })
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(rng.integers(0, 86_400 * 30, ne) * 1_000_000
                       + int((ORDER_START - EPOCH).total_seconds()) * 1_000_000,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 500, ne), pa.int64()),
        "event_type": [("view", "click", "purchase")[i] for i in rng.integers(0, 3, ne)],
        "value": _money(rng, 0.0, 100.0, ne),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 10, ne)],
    })
    out["documents"] = documents(rng, n["documents"])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def documents(rng: np.random.Generator, nd: int) -> pa.Table:
    texts = [_words(rng, int(k)) for k in rng.integers(10, 90, nd)]
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(0, 0.6, (nv, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_star(out_dir: str, seed: int, scale: float,
               order_days: int = ORDER_DAYS) -> dict[str, int]:
    """Write every star table as ``<out_dir>/<name>.parquet``; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in star_tables(seed, scale, order_days).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def ship_day(day: int) -> dt.datetime:
    return SHIP_START + dt.timedelta(days=int(day))
