"""Seeded synthetic fixture tables with the package's fixture schemas.

The benchmark never reads data it did not make: every run writes its
own parquet tables from ``--seed`` into the run's scratch directory.
Schemas match the package's fixture tables (region, nation,
customer, supplier, part, orders, lineitem, documents, embeddings);
sizes are set by ``customers`` / ``docs`` so a workload can pick the
scale its time budget allows.

Skew is deliberate, because the graph queries' cost depends on it:
order counts per customer and brand popularity follow a Zipf law, so
the derived IAM graph has hub roles that most users hold next to
leaf roles with a handful of members, and users bound to one role
next to users bound to all of them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
N_BRANDS = 25
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("blue", "hot", "large", "green", "dark", "pale", "tiny", "smooth")
NOUN = ("ring", "bolt", "gear", "nut", "pipe", "valve", "plate", "screw")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query key window stream merge join table data "
    "vector customer big a the of"
).split()
LANGS = ("en", "en", "en", "en", "de", "fr", "zh")
DIM = 64


def _zipf_choice(rng, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n_items + 1) ** s
    perm = rng.permutation(n_items)
    return perm[rng.choice(n_items, size=size, p=w / w.sum())]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_graph_tables(out_dir: str, seed: int, customers: int) -> None:
    """The seven tables the IAM graph derives from. ``customers``
    sets the scale; the other tables keep the TPC-H ratios (orders
    10x customers, about 4 lines per order, suppliers 1/15)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_sup = max(customers // 15, 10)
    n_part = max(customers * 4 // 3, 100)
    n_ord = customers * 10

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(N_NATIONS)],
        "n_regionkey": pa.array(
            rng.integers(0, len(REGIONS), N_NATIONS), pa.int32()
        ),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(customers)],
        "c_nationkey": pa.array(
            _zipf_choice(rng, N_NATIONS, customers, 0.8), pa.int32()
        ),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, customers)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_sup), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_sup), 2),
    })
    brand = _zipf_choice(rng, N_BRANDS, n_part, 1.3) + 1
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in brand],
        "p_type": [TYPES[i] for i in rng.integers(0, len(TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    })
    days = rng.integers(0, 3650, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(_zipf_choice(rng, customers, n_ord, 0.9), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": pa.array(
            (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
        ),
        "o_orderpriority": [
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
            for i in rng.integers(0, 5, n_ord)
        ],
    })
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_ord), per_order)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order),
            pa.int32(),
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            (np.datetime64("1995-01-01") + np.repeat(days, per_order)
             + rng.integers(1, 120, n_li)).astype("datetime64[us]")
        ),
    })


def write_corpus_tables(out_dir: str, seed: int, docs: int) -> None:
    """documents (with exact and near duplicates, so dedup has work)
    and clustered 64-d embeddings (half as many rows as documents)."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)
    texts = []
    for i in range(docs):
        r = rng.random()
        if i > 0 and r < 0.05:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < 0.15:  # near duplicate: a few words replaced
            toks = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n)))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_vec = max(docs // 2, 20)
    centers = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n_vec)
    vecs = (centers[label] + 0.6 * rng.normal(size=(n_vec, DIM))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
