"""Seeded synthetic parquet tables for the ``operators_sf01`` workload.

The schemas, value domains and row ratios follow the star schema the
operator registry is written against (TPC-H-like ``region``,
``nation``, ``supplier``, ``customer``, ``orders``, ``lineitem`` plus
the ``documents`` text corpus).  Rows per table are the sf=1 counts
times ``sf``.  Prices, discounts and taxes carry at most two decimals,
so the registry's exact-decimal aggregates and their DuckDB twins agree
bit for bit.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at sf=1
ROWS = {"supplier": 10_000, "customer": 150_000, "orders": 1_500_000,
        "lineitem": 6_000_000}
#: share of documents that are edited copies of an earlier document, so
#: the dedup entries find pairs instead of returning nothing
NEAR_DUP_SHARE = 0.25

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window join column filter small big order data query "
    "customer stream group vector"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: int, hi: int, n: int) -> pa.Array:
    days = _EPOCH_1995 + rng.integers(lo, hi, n)
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def make_tables(seed: int, sf: float, n_doc: int) -> dict[str, pa.Table]:
    """The seven tables at scale factor ``sf``, with ``n_doc`` documents
    (the DuckDB twin of the set-similarity join compares every pair)."""
    rng = np.random.default_rng([seed, 7])
    n = {k: max(int(v * sf), 1) for k, v in ROWS.items()}
    n_sup, n_cust, n_ord, n_li = (
        n["supplier"], n["customer"], n["orders"], n["lineitem"])

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_sup, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
        "s_acctbal": _money(rng, -999, 9999, n_sup),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, max(n_li // 30, 1), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_sup, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })
    words = np.array(WORDS)
    docs = [list(words[rng.integers(0, len(WORDS), int(k))])
            for k in rng.integers(8, 90, n_doc)]
    for i in range(1, n_doc):
        if rng.random() < NEAR_DUP_SHARE:
            doc = list(docs[int(rng.integers(0, i))])
            for j in rng.integers(0, len(doc), max(len(doc) // 20, 1)):
                doc[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            docs[i] = doc
    texts = [" ".join(d) for d in docs]
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {
        "region": region, "nation": nation, "supplier": supplier,
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "documents": documents,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
