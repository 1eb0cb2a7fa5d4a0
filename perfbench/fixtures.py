"""Deterministic synthetic fixtures in the schema the registry reads.

The tables mirror the engine's fixture layout (``<dir>/<table>.parquet``,
TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``)
at about the 0.01 scale factor: 60k lineitems, 15k orders, 10k events,
500 documents and 500 embeddings. Every value comes from one fixed
NumPy generator, so the same files are written on every run and every
host; the workload seed never reaches them. Timestamps are naive
``timestamp[us]``, as in the engine's own fixtures.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_EMB = 500
EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
VOCAB = (
    "a the big small fast slow spark join hash row batch scan column customer "
    "filter merge order vector line table data agg value key stream window "
    "part group sort query"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.43, 0.15, 0.15, 0.14, 0.13]


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _dates(rng: np.random.Generator, days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, days, n, dtype=np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def tables() -> dict[str, pa.Table]:
    """Build every fixture table in memory."""
    rng = np.random.default_rng(FIXTURE_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    names = [
        f"{ADJECTIVES[a]} {NOUNS[b]}"
        for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(N_PART), pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + 0.1 * (np.arange(N_PART) % 1000), 2), pa.float64()
            ),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _cents(rng, 1_000, 500_000, N_ORDERS),
            "o_orderdate": _dates(rng, 2_404, N_ORDERS),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
        }
    )
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900, 2_100, N_LINEITEM), 2), pa.float64()
            ),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100, pa.float64()),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": _dates(rng, 2_499, N_LINEITEM),
        }
    )
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, N_EVENTS, dtype=np.int64))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2), pa.float64()),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.normal(0.0, 1.0, (N_EMB, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_EMB), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32()),
        }
    )
    return out


def write(out_dir: Path) -> list[str]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the names."""
    out_dir.mkdir(parents=True, exist_ok=True)
    built = tables()
    for name, table in built.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return list(built)
