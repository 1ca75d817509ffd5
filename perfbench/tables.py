"""Seeded star-schema + events + documents + embeddings tables for the
query-mix workload, written as one parquet file per table in the layout
``plans.tables`` reads (``<dir>/<name>.parquet``).

Value domains follow the tables the registry's queries and oracles are
written against (TPC-H-like keys, segments, flags and 1995-2001 dates;
hourly events over 30 days; word-salad documents with a share of exact
duplicates; 64-d float embeddings).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_COLORS = np.array(["green", "red", "blue", "small", "hot", "dark", "pale"])
_NOUNS = np.array(["ring", "widget", "bolt", "gear", "gizmo", "spring", "valve"])
_TYPES = np.array(["ECONOMY", "SMALL", "PROMO", "LARGE", "STANDARD", "MEDIUM"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_DOC_WORDS = np.array((
    "the a fast slow key order sort table scan merge part window small big hash "
    "join batch stream spark group query row data filter customer line value "
    "agg column vector dup"
).split())
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def _ts(days_from: dt.date, offsets_us: np.ndarray) -> pa.Array:
    base = int(dt.datetime(days_from.year, days_from.month, days_from.day,
                           tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def generate(out_dir: str, seed: int, scale: float) -> dict:
    """Write all tables; ``scale`` 1.0 is 1500 customers / 15000 orders.
    Returns {"rows": total rows, "bytes": bytes on disk, "tables": {...}}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(100, int(15000 * scale))
    n_users = max(20, int(150 * scale))
    n_events = max(500, int(10000 * scale))
    n_docs = max(60, int(300 * scale))
    n_emb = max(60, int(300 * scale))
    day_us = 86_400_000_000
    t = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{c} {n}" for c, n in zip(rng.choice(_COLORS, n_part), rng.choice(_NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    odate = rng.integers(0, 6 * 365 + 200, n_ord) * day_us
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(dt.date(1995, 1, 1), odate),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord), lines)
    n_li = len(lkey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * day_us
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": _ts(dt.date(1995, 1, 1), ship),
    })
    ev_off = np.sort(rng.integers(0, 30 * day_us, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(dt.date(2024, 1, 1), ev_off),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS, int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_emb + 1, 64), pa.int32()), pa.array(emb.ravel())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })

    rows, nbytes = 0, 0
    for name, table in t.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows += table.num_rows
        nbytes += os.path.getsize(path)
    return {"rows": rows, "bytes": nbytes, "tables": {k: v.num_rows for k, v in t.items()}}
