"""Seeded input tables for the benchmark.

Writes the TPC-H-ish star schema plus `documents` and `embeddings` with
the column names and parquet types `hive_nexr_spark.io.register_views`
expects, one parquet FILE per table (the documents stream reader filters
the directory by file name). Sizes follow the driver test data at
sf0.01: lineitem 60,000 rows, orders 15,000, 500 documents and 500
embeddings. The same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_REGION = 5
N_NATION = 25
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_DOCS = 500
N_VECS, DIM, N_LABELS = 500, 64, 10

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
DAY0 = np.datetime64("1995-01-01", "us")
N_DAYS = 2400


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    d = rng.integers(0, N_DAYS, n)
    return pa.array(DAY0 + d.astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng):
    return {"r_regionkey": pa.array(np.arange(N_REGION), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])}


def _nation(rng):
    return {"n_nationkey": pa.array(np.arange(N_NATION), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATION)]),
            "n_regionkey": pa.array(np.arange(N_NATION) % N_REGION,
                                    pa.int32())}


def _customer(rng):
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    n = N_CUSTOMER
    return {"c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, N_NATION, n), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n)])}


def _supplier(rng):
    n = N_SUPPLIER
    return {"s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, N_NATION, n), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))}


def _part(rng):
    adj = np.array(["small", "large", "red", "blue", "old", "new", "hot",
                    "cold"])
    noun = np.array(["widget", "bolt", "gear", "ring", "plate", "anvil",
                     "gizmo"])
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
                      "LARGE"])
    n = N_PART
    return {"p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                adj[rng.integers(0, len(adj), n)],
                noun[rng.integers(0, len(noun), n)])]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n)]),
            "p_type": pa.array(types[rng.integers(0, len(types), n)]),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(n) * 0.1, 2))}


def _orders(rng):
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    n = N_ORDERS
    return {"o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n), pa.int64()),
            "o_orderstatus": pa.array(status[rng.choice(3, n,
                                                        p=[.45, .45, .10])]),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
            "o_orderdate": _days(rng, n),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)])}


def _lineitem(rng):
    flags, lstat = np.array(["A", "N", "R"]), np.array(["F", "O"])
    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(float)
    return {"l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900, 2000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(flags[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(lstat[rng.integers(0, 2, n)]),
            "l_shipdate": _days(rng, n)}


def _documents(rng):
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         int(rng.integers(10, 90)))])
             for _ in range(N_DOCS)]
    return {"doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(["en", "zh", "es", "de", "fr"])[
                rng.integers(0, 5, N_DOCS)]),
            "source": pa.array([f"src{i}" for i in
                                rng.integers(0, 20, N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def _embeddings(rng):
    """Unit vectors scattered around one centre per label."""
    centres = rng.normal(size=(N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, N_VECS)
    v = centres[label] + 0.8 * rng.normal(size=(N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32())}


TABLES = {"region": _region, "nation": _nation, "customer": _customer,
          "supplier": _supplier, "part": _part, "orders": _orders,
          "lineitem": _lineitem, "documents": _documents,
          "embeddings": _embeddings}


def generate(out_dir: str, seed: int, tables: list[str]) -> None:
    """Write the named tables under `out_dir`. Each table draws from its
    own stream of the seed, so it does not depend on which others are
    written."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        if name in tables:
            rng = np.random.default_rng([seed, 20260, i])
            _write(out_dir, name, TABLES[name](rng))


if __name__ == "__main__":
    import sys

    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3].split(","))
