"""Synthetic analytics fixture for the query_mix workload.

Writes the ten tables of FIXTURES.md section 1 (same names, columns and
parquet types) with the value domains the registered queries filter on:
TPC-H-style keys and flags, region names, NATION_<k> nations, market
segments, part names built from adjective + noun, a word-soup document
corpus with near-duplicates, label-clustered unit-norm embeddings and an
events table whose ``props`` is a small JSON object. Row counts follow the
smoke scale (``sf0.001``), where the registered queries are dominated by
per-job and per-stage cost rather than by data volume.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
LANGS = ("en", "en", "fr", "es", "zh", "de")
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data join shuffle index page cache customer vector dup"
).split()

N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1500
N_LINEITEM = 6000
N_EVENTS = 1000
N_USERS = 15
N_DOCS = 500
N_VECS = 500
DIM = 64


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    base = np.datetime64(lo, "us")
    span = (hi - lo).days
    return base + rng.integers(0, span + 1, size=n) * np.timedelta64(1, "D")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(N_PART), pa.int64()),
            "p_name": [
                f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                for _ in range(N_PART)
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(PART_TYPES, N_PART).tolist(),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(N_PART) % 200 * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist(),
        }
    )
    # Orders carry 1..7 lines, so l_orderkey repeats and l_linenumber
    # restarts per order like TPC-H.
    lines = rng.integers(1, 8, N_ORDERS)
    okeys = np.repeat(np.arange(N_ORDERS), lines)[:N_LINEITEM]
    starts = np.r_[0, np.cumsum(lines)[:-1]]
    linenum = (np.arange(len(okeys)) - np.repeat(starts, lines)[: len(okeys)]) + 1
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
            "l_linenumber": pa.array(linenum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        }
    )
    # Events: roughly ordered timestamps over 30 days, few users.
    gaps = rng.exponential(30 * 86400 / N_EVENTS, N_EVENTS)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
            "value": _money(rng, 0.01, 330.0, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    # Documents: word soup, about 10% perturbed copies of earlier docs.
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(VOCAB))
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(size=(10, DIM))
    vecs = centers[labels] + 0.8 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_fixture(out_dir: str, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(np.random.default_rng(seed)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
