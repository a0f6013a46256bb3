"""Deterministic benchmark tables.

The benchmark builds its own inputs so that it needs nothing outside the
checkout: the TPC-H-shaped star schema, the ``events`` stream table, the
``documents`` corpus and the ``embeddings`` table, with the schemas and
value domains the registry queries read (``sources/readers.py``).

Every table comes from one fixed data seed, so every workload seed reads
the same bytes and a seed only changes what the workloads do with them
(pass order, players, questions, micro-batch split). At ``scale=1`` the
sizes are those of the sf0.01 fixture: 60,000 lineitem rows, 10,000
events, 500 documents, 500 embeddings; the smoke test uses
``scale=0.1``, the sf0.001 sizes.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: row counts at scale 1; dimension tables keep at least their floor
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "users": 150,
    "docs": 500,
    "vecs": 500,
}
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(offsets: np.ndarray) -> np.ndarray:
    return _EPOCH_1995 + offsets.astype("timedelta64[D]")


def build_tables(seed: int = DATA_SEED, scale: float = 1.0) -> dict[str, pa.Table]:
    n = {k: max(20, int(v * scale)) for k, v in SIZES.items()}
    n_customer, n_supplier, n_part = n["customer"], n["supplier"], n["part"]
    n_orders, n_lineitem, n_events = n["orders"], n["lineitem"], n["events"]
    n_users = n["users"]
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_customer), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_customer),
        "c_mktsegment": rng.choice(SEGMENTS, n_customer),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supplier), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supplier)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supplier), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supplier),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(_days(order_days), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    l_order = rng.integers(0, n_orders, n_lineitem)
    # line numbers 1..k within each order, in row order
    order_idx = np.argsort(l_order, kind="stable")
    linenumber = np.empty(n_lineitem, dtype=np.int32)
    sorted_keys = l_order[order_idx]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_pos = np.arange(n_lineitem) - np.repeat(starts, np.diff(np.r_[starts, n_lineitem]))
    linenumber[order_idx] = run_pos + 1
    l_part = rng.integers(0, n_part, n_lineitem)
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    ship = order_days[l_order] + rng.integers(1, 122, n_lineitem)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supplier, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.02, 2.3, n_lineitem), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lineitem) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lineitem) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lineitem),
        "l_linestatus": rng.choice(["F", "O"], n_lineitem),
        "l_shipdate": pa.array(_days(ship), pa.timestamp("us")),
    })
    gaps = rng.integers(1, 260_000_000, n_events)  # ~30 days of events
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(_EVENTS_T0 + np.cumsum(gaps).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(49.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    t["documents"] = _documents(rng, n["docs"])
    t["embeddings"] = _embeddings(rng, n["vecs"])
    return t


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i >= n_docs // 10 and roll < 0.03:
            # planted near-duplicate: an earlier doc with one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 95))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = 0.8 * centers[labels] + 0.25 * rng.normal(size=(n_vecs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def ensure_tables(data_dir: Path, scale: float = 1.0) -> Path:
    """Write the tables under ``data_dir`` unless a complete set is there.
    Files are written to a temp name and renamed, so an interrupted run
    never leaves a partial table behind."""
    data_dir.mkdir(parents=True, exist_ok=True)
    if all((data_dir / f"{name}.parquet").exists() for name in TABLES):
        return data_dir
    for name, table in build_tables(scale=scale).items():
        tmp = data_dir / f".{name}.parquet.tmp"
        pq.write_table(table, tmp)
        tmp.replace(data_dir / f"{name}.parquet")
    return data_dir
