"""Seeded TPC-H-shaped tables for the monitoring query mix and the lakehouse table.

Writes the tables the registry queries load (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas, value domains and date ranges of the
suite's sf0.1 test data: 150k orders, 600k lineitems, 100k events.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
         "orders": 150_000, "events": 100_000, "documents": 5_000,
         "embeddings": 2_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window join plan stage task").split()
DAY_US = 86_400 * 1_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(epoch: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(epoch + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def lineitem_table(rng: np.random.Generator, n_orders: int,
                   order_days: np.ndarray) -> pa.Table:
    """Four lines per order on average (1-7), keyed (l_orderkey, l_linenumber)."""
    lines = rng.integers(1, 8, n_orders)
    lines = np.maximum(1, np.round(lines * 4 / lines.mean())).astype(np.int64)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(okey)) - first + 1).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n), 2)
    ship_day = order_days[okey] + rng.integers(1, 122, n)
    returned = rng.random(n)
    flag = np.where(returned < 0.25, "R", np.where(returned < 0.5, "A", "N"))
    status = np.where(ship_day < 2000, "F", "O")
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, SIZES["part"], n),
        "l_suppkey": rng.integers(0, SIZES["supplier"], n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": status,
        "l_shipdate": _ts(ORDER_EPOCH, ship_day * DAY_US),
    })


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = (SIZES[k] for k in
                                     ("customer", "supplier", "part", "orders"))
    order_days = rng.integers(0, 2404, n_ord)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _money(rng, 900, 2100, n_part)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]),
            "o_totalprice": _money(rng, 850, 450_000, n_ord),
            "o_orderdate": _ts(ORDER_EPOCH, order_days * DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": lineitem_table(rng, n_ord, order_days),
    }
    n_ev = SIZES["events"]
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    ev_type = rng.choice(EVENT_TYPES, n_ev, p=[0.5, 0.3, 0.08, 0.1, 0.02])
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EVENT_EPOCH, ev_us),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": ev_type,
        "value": np.where(ev_type == "purchase", _money(rng, 1, 560, n_ev),
                          _money(rng, 0, 60, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = SIZES["documents"]
    lengths = rng.integers(8, 90, n_doc)
    words = rng.choice(WORDS, int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lengths)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_emb = SIZES["embeddings"]
    centers = rng.normal(size=(8, 16))
    label = rng.integers(0, 8, n_emb)
    vecs = (centers[label] + rng.normal(scale=0.1, size=(n_emb, 16))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
