"""Seeded input generator for the benchmark.

Every input the benchmark feeds the engine comes from here, as Arrow
tables or parquet files in the run's scratch directory. The same seed
always yields the same values, so two runs with one seed see one
workload. Each parquet file written is reported on standard output as
``gen <name>: <rows> rows, <bytes> bytes``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = dt.date(1970, 1, 1)
ORDER_DAY0 = (dt.date(1992, 1, 1) - EPOCH).days
ORDER_DAYS = (dt.date(1998, 8, 2) - dt.date(1992, 1, 1)).days
# The day lineitem.l_linestatus flips from 'F' to 'O' (TPC-H's 1995-06-17).
STATUS_DAY = (dt.date(1995, 6, 17) - EPOCH).days


def write(out_dir: str, name: str, table: pa.Table) -> str:
    """Write ``table`` as ``<out_dir>/<name>.parquet`` and report its size."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    print(f"gen {name}: {table.num_rows} rows, {os.path.getsize(path)} bytes")
    return path


def _days(arr: np.ndarray) -> pa.Array:
    return pa.array(arr.astype("int32"), pa.int32()).cast(pa.date32())


def tpch(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """A TPC-H-shaped star schema with about four lines per order.

    ``lineitem.l_key`` is a unique row key: ``(l_orderkey, l_linenumber)``
    repeats in the shared star-schema fixtures, which makes a keyed MERGE
    ambiguous there.
    """
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 10)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    odate = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n_orders)
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    l_order = np.repeat(np.arange(1, n_orders + 1, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_lines) - starts + 1).astype("int32")
    qty = rng.integers(1, 51, n_lines).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2000.0, n_lines), 2)
    disc = rng.integers(0, 11, n_lines) / 100.0
    tax = rng.integers(0, 9, n_lines) / 100.0
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_lines)
    total = np.zeros(n_orders)
    np.add.at(total, l_order - 1, price * (1 - disc) * (1 + tax))
    orders = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype="int64"),
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(total, 2),
        "o_orderdate": _days(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lineitem = pa.table({
        "l_key": np.arange(n_lines, dtype="int64"),
        "l_orderkey": l_order,
        "l_suppkey": rng.integers(1, n_supp + 1, n_lines).astype("int64"),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": np.where(
            ship <= STATUS_DAY, np.array(["R", "A"])[rng.integers(0, 2, n_lines)], "N"
        ),
        "l_linestatus": np.where(ship <= STATUS_DAY, "F", "O"),
        "l_shipdate": _days(ship),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
    }


def ingest_rows(rng: np.random.Generator, first_id: int, n: int, tag: int) -> pa.Table:
    """``n`` rows of the ingest table with ids ``first_id ..``; ``tag``
    marks the op that produced them."""
    ids = np.arange(first_id, first_id + n, dtype="int64")
    return pa.table({
        "id": ids,
        "grp": (ids % 97).astype("int32"),
        "qty": rng.integers(1, 1000, n).astype("int64"),
        "price": np.round(rng.uniform(1.0, 500.0, n), 2),
        "tag": np.full(n, tag, dtype="int64"),
    })


# Shares of the corpus that are exact copies of an earlier document, copies
# with about 5% of tokens replaced, and documents carrying a 16-token span
# of one of the first ten (the decontamination operator's benchmark set).
DUP_RATIO = 0.08
NEAR_DUP_RATIO = 0.08
CONTAMINATED_RATIO = 0.02
DIM = 64


def corpus(rng: np.random.Generator, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Documents with controlled duplicate density, and clustered vectors of
    which about 5% have a near twin."""
    vocab = np.array([f"w{i}" for i in range(600)])
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    docs: list[list[str]] = []
    kinds = rng.random(n_docs)
    for i in range(n_docs):
        k = kinds[i]
        if i >= 20 and k < DUP_RATIO:
            toks = list(docs[int(rng.integers(0, i))])
        elif i >= 20 and k < DUP_RATIO + NEAR_DUP_RATIO:
            toks = list(docs[int(rng.integers(0, i))])
            for j in np.flatnonzero(rng.random(len(toks)) < 0.05):
                toks[j] = str(vocab[rng.choice(len(vocab), p=zipf)])
        else:
            toks = [str(w) for w in vocab[rng.choice(len(vocab), int(rng.integers(20, 90)), p=zipf)]]
            if i >= 20 and k < DUP_RATIO + NEAR_DUP_RATIO + CONTAMINATED_RATIO:
                src = docs[int(rng.integers(0, 10))]
                at = int(rng.integers(0, max(len(src) - 16, 1)))
                pos = int(rng.integers(0, len(toks)))
                toks[pos:pos] = src[at:at + 16]
        docs.append(toks)
    texts = [" ".join(t) for t in docs]
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "fr"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    centers = rng.normal(0.0, 0.2, (10, DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.08, (n_vecs, DIM))
    twins = np.flatnonzero(rng.random(n_vecs) < 0.05)
    twins = twins[twins > 0]
    vecs[twins] = vecs[twins - 1] + rng.normal(0.0, 0.002, (len(twins), DIM))
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return {"documents": documents, "embeddings": embeddings}
