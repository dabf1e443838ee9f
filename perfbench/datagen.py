"""Seeded input tables for the query-mix workload.

Writes the eight tables the headline queries read (region, nation,
customer, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, types and value ranges of
the project's synthetic TPC-H-style test data. Every value comes from
one numpy Philox stream keyed by the benchmark seed, so a seed always
produces the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (["en"] * 41) + (["zh"] * 15) + (["es"] * 15) + (["fr"] * 15) + (["de"] * 14)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400 * 1_000_000


def _days(rng, n: int, start: str, n_days: int) -> pd.Series:
    base = np.datetime64(start, "us")
    return pd.Series(base + rng.integers(0, n_days, n) * np.timedelta64(1, "D"))


def make_tables(seed: int, n_lineitem: int, n_documents: int, n_embeddings: int) -> dict:
    """Return {table name: pandas frame}. Sizes scale from ``n_lineitem``
    the way the TPC-H ratios do (4 lines per order, 10 orders per
    customer); ``n_documents`` and ``n_embeddings`` size the text and
    vector tables the signature and similarity queries read."""
    rng = np.random.Generator(np.random.Philox(seed))
    n_orders = max(1, n_lineitem // 4)
    n_cust = max(1, n_orders // 10)
    n_events = max(1, n_lineitem // 6)
    region = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", 2400),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_lineitem).astype(np.int64),
            "l_partkey": rng.integers(0, 20000, n_lineitem).astype(np.int64),
            "l_suppkey": rng.integers(0, 1000, n_lineitem).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_lineitem).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lineitem).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_lineitem), 2),
            "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
            "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)],
            "l_shipdate": _days(rng, n_lineitem, "1995-01-02", 2500),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.Series(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(1, n_events // 66), n_events).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    lengths = rng.integers(10, 101, n_documents)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(words[at : at + n]))
        at += n
    # ~5% near-duplicates (an earlier text plus one token) and a few
    # exact copies, so the dedup and signature queries find pairs
    for i in np.flatnonzero(rng.random(n_documents) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n_documents) < 0.002):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_documents, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_documents)],
            "source": [f"src{i % 20}" for i in range(n_documents)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_embeddings, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_embeddings, dtype=np.int64),
            "embedding": list(vec),
            "label": rng.integers(0, 10, n_embeddings).astype(np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(out_dir: str, seed: int, **sizes) -> dict[str, int]:
    """Write the tables under ``out_dir`` and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in make_tables(seed, **sizes).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        counts[name] = len(df)
    return counts
