"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed gives the
same bytes. The schemas follow the engine's TPC-H-ish test tables (one
parquet file per table, the layout ``sources.tpch.load_table`` reads), so
the registry's queries and their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO BRUSHED", "PROMO PLATED", "LARGE"]
PART_WORDS = ["small", "red", "blue", "large", "green", "ring", "widget", "bolt", "gear"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query big order group "
    "stream filter vector"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_2024 = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).days * _DAY_US
_EPOCH_1995 = (dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)).days * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem/events at ``sf``
    (sf 1 = 150k orders, ~600k line items)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(15_000 * sf), 50)
    n_supp = max(int(1_000 * sf), 10)
    n_part = max(int(20_000 * sf), 50)
    n_ord = max(int(150_000 * sf), 200)
    n_evt = max(int(100_000 * sf), 100)
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
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    w = np.array(PART_WORDS)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(w[rng.integers(0, 5, n_part)], " "),
                              w[rng.integers(5, 9, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US
    n_lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype="int64"), n_lines)
    n_li = len(l_ord)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1)
    qty = rng.integers(1, 51, n_li).astype("float64")
    partkey = rng.integers(0, n_part, n_li)
    price = np.round(qty * (900 + partkey % 1000 * 0.1 + rng.uniform(0, 1100, n_li)), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(odate, n_lines) + rng.integers(1, 122, n_li) * _DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": partkey.astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": l_num.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship),
    })
    totals = np.bincount(l_ord, weights=price, minlength=n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    ets = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(ets),
        "user_id": rng.integers(0, 100, n_evt).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": _money(rng, n_evt, 0, 100),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    return t


def curation_tables(
    seed: int, n_docs: int, n_vecs: int, dup_frac: float = 0.2, dim: int = 64
) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` with unique ids, where a ``dup_frac``
    share of rows are near-duplicate copies of an earlier row: one word
    replaced (documents) or small Gaussian noise added (embeddings)."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < dup_frac:
            src = texts[rng.integers(0, i)].split()
            src[rng.integers(0, len(src))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(30, 90))]))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (n_vecs, dim))
    for i in range(10, n_vecs):
        if rng.random() < dup_frac:
            j = rng.integers(0, i)
            vecs[i] = vecs[j] + rng.normal(0, 0.05, dim)
            labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.5).astype("float32")
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One ``<name>.parquet`` per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
