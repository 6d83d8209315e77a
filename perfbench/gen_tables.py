"""Deterministic input tables for the analytics_mix workload.

The tables follow the shapes the mix queries read (a TPC-H-like
lineitem/orders/supplier star, an event stream with JSON props and a text
corpus with planted near-duplicates) at roughly 60k lineitem rows. They are
generated once from a fixed data seed and cached; the workload seed only
orders the queries.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
VERSION = "v1"
N_ORDERS = 15000
N_PARTS = 2000
N_SUPP = 100
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _ts(days_from, start="1995-01-01"):
    base = np.datetime64(start, "us")
    return base + (days_from * 86400 * 1_000_000).astype("timedelta64[us]")


def tables(rng):
    out = {}
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPP), 2),
    })

    okeys = np.arange(N_ORDERS, dtype=np.int64)
    odays = rng.integers(0, 2400, N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, 1500, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 400000, N_ORDERS), 2),
        "o_orderdate": pa.array(_ts(odays), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })

    lines = rng.integers(1, 8, N_ORDERS)
    lok = np.repeat(okeys, lines)
    n = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, N_PARTS, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPP, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(_ts(np.repeat(odays, lines) + rng.integers(1, 122, n)),
                               pa.timestamp("us")),
    })

    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + (secs * 1e6).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], N_EVENTS),
        "value": np.round(rng.exponential(50, N_EVENTS), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    docs = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.1:
            # planted near-duplicate: an earlier text with a few word edits
            w = docs[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            docs.append(" ".join(w + ["dup"]))
        else:
            docs.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": docs,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
    })
    return out


def ensure(root):
    """Writes the tables under root/<VERSION>/ once; returns that dir."""
    d = os.path.join(root, VERSION)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, t in tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    open(os.path.join(d, "_DONE"), "w").close()
    return d
