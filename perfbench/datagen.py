"""Deterministic input tables for the benchmark.

Writes the parquet layout the engine's sources read
(``<dir>/<table>.parquet``, one file and one row group per table).  Row
counts, column types and value distributions follow the project's sf0.1
test data (TPC-H-like star schema, document corpus, embeddings), as
measured from its parquet files:

* every key, price, date and flag column is uniform and independent of
  the others over the ranges below; ``lineitem`` rows draw their order,
  part, supplier and line number independently (so order sizes are
  Poisson(4) and about 2% of orders have no lines);
* a document is 10-100 words drawn uniformly from a 30-word vocabulary;
  5% of documents are replaced, in doc_id order, by another document's
  text plus `` dup`` (chains give `` dup dup``, and two copies of one
  source are exact duplicates); languages are 41% ``en`` and about 15%
  each of four others; ``source`` cycles through 20 values;
* embeddings are 64-dim standard normal vectors scaled to unit length,
  with a uniform label in 0-9.

The tables depend only on ``DATA_SEED`` and ``SIZES``, never on the
benchmark's ``--seed``, so every run and every workload sees the same
bytes and relation digests can be compared across runs.  ``part`` and
``events`` are not written: no workload reads them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
SIZES = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,  # key range of l_partkey
    "orders": 150000,
    "lineitem": 600000,
    "documents": 5000,
    "embeddings": 2000,
}
EMBEDDING_DIM = 64
VOCAB = (
    "a the data table row column key value join group sort merge hash scan "
    "filter query order line part customer window stream batch vector agg "
    "spark big small fast slow"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = (0, 2405)  # o_orderdate 1995-01-01 .. 2001-08-01
SHIP_DAYS = (1, 2500)  # l_shipdate 1995-01-02 .. 2001-11-04
STAMP = "_stamp.json"


def _days(rng: np.random.Generator, span: tuple[int, int], size: int) -> np.ndarray:
    return (EPOCH + rng.integers(*span, size)).astype("datetime64[us]")


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = SIZES["customer"], SIZES["supplier"]
    n_ord, n_li = SIZES["orders"], SIZES["lineitem"]
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, ORDER_DAYS, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, SIZES["part"], n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, SHIP_DAYS, n_li),
    })
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
    }


def _corpus(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_docs, n_vec = SIZES["documents"], SIZES["embeddings"]
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    near_dups = np.sort(rng.choice(n_docs, int(n_docs * NEAR_DUP_SHARE), replace=False))
    for i, src in zip(near_dups, rng.integers(0, n_docs, len(near_dups))):
        texts[i] = texts[src] + " dup"
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return {"documents": documents, "embeddings": embeddings}


def ensure(out_dir: str) -> str:
    """Write the tables into ``out_dir`` unless a stamp for the same
    seed and sizes is already there; returns ``out_dir``."""
    stamp = {"seed": DATA_SEED, "sizes": SIZES, "dim": EMBEDDING_DIM}
    path = os.path.join(out_dir, STAMP)
    try:
        with open(path) as f:
            if json.load(f) == stamp:
                return out_dir
    except (OSError, ValueError):
        pass
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    tables = {**_tpch(rng), **_corpus(rng)}
    for name, table in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(path, "w") as f:
        json.dump(stamp, f)
    return out_dir
