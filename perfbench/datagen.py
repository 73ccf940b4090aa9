"""Seeded generator for the benchmark's input tables.

Writes the ten TPC-H-like tables the engine reads (``form700_etl_spark.io.
TABLE_NAMES``), one parquet file each, with the column names, types and value
domains of the fixtures the engine was built against: uniform keys, dates and
prices, 5% near-duplicate documents (an earlier text plus " dup"), unit-norm
64-d embeddings with a weak per-label component, and events sorted by a
microsecond timestamp over 30 days.  Row counts scale with ``sf`` as in those
fixtures (sf0.001 -> 6,000 lineitems, 1,000 events).  The same ``(sf, seed)``
always gives the same bytes of data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
US_PER_DAY = 86_400_000_000


def _dates(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days * US_PER_DAY


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_orders = max(1, round(1_500_000 * sf))
    n_items = 4 * n_orders
    n_events = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _keyed_names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
            "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
            "o_orderdate": _ts(_dates(rng, n_orders, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_items), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_items), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_items), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
            "l_extendedprice": _money(rng, n_items, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_items),
            "l_linestatus": _pick(rng, ("F", "O"), n_items),
            "l_shipdate": _ts(_dates(rng, n_items, "1995-01-02", "2001-11-04")),
        }
    )
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write every table under ``out_dir`` (created if absent); returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
