"""Deterministic fixture tables for the benchmark.

Writes the ten tables the query registry reads (``sources.TABLES``) as
one parquet file each, with the schemas and value shapes of the
project's synthetic star-schema fixtures (FIXTURES.md section B):
TPC-H-like dimensions and facts, an ``events`` log, a ``documents``
corpus in which 5% of the rows are another row's text plus " dup",
and unit-norm 64-dimensional ``embeddings``.

The tables are fixed: ``SCALE`` and ``FIXTURE_SEED`` are constants. The
workload seed changes the call order and the served-get keys, never the
data, so every run does the same work.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SCALE = 0.001  # 6k lineitem rows, 500 documents and embeddings, 1k events

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "large", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64


def sizes() -> dict[str, int]:
    """Row counts per table at ``SCALE`` (1.0 would be 6M lineitem rows).
    The text and vector tables have floors so that the dedup and
    similarity operators have real work even at tiny scales."""
    scale = SCALE
    return {
        "customer": max(15, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(20, int(200_000 * scale)),
        "orders": max(150, int(1_500_000 * scale)),
        "lineitem": max(600, int(6_000_000 * scale)),
        "events": max(100, int(1_000_000 * scale)),
        "users": max(15, int(15_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _ts_us(start: dt.datetime, offsets_s: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    us = base + (offsets_s * 1_000_000).astype(np.int64)
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: dt.date, span: int) -> pa.Array:
    base = dt.datetime(start.year, start.month, start.day)
    return _ts_us(base, rng.integers(0, span, n).astype(np.float64) * 86_400)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(FIXTURE_SEED)
    n = sizes()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart).tolist(),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, no),
            "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), 2400),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), 2500),
        }
    )
    ne = n["events"]
    offsets = np.sort(rng.uniform(0, 30 * 86_400, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts_us(dt.datetime(2024, 1, 1), offsets),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, k).tolist()) for k in rng.integers(10, 100, nd)
    ]
    dup_ids = rng.choice(nd, nd // 20, replace=False)
    for i, j in zip(dup_ids, rng.integers(0, nd, len(dup_ids))):
        texts[i] = texts[j if j != i else (j + 1) % nd] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
            "source": [f"src{i % N_SOURCES}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def write_fixtures(out_dir: str) -> int:
    """Write every table under `out_dir`; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in build_tables().items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
