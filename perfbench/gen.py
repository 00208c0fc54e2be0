"""Seeded input generators for the benchmark.

Tables follow the harness star schema the library's queries read
(`lineitem`, `orders`, `documents`, `embeddings`), one parquet file per
table, written with pyarrow exactly like the fixtures the test suite
uses (micros timestamps without a zone, plain int64/double columns).

Two properties the workloads rely on and real inputs have:
- a line item ships 1-121 days after its order (TPC-H's rule), so the
  lines of one order sit in one or two files of a date-clustered layout
  and a Bloom lookup on `l_orderkey` really prunes;
- about 5% of the documents are near-copies of an earlier one (the text
  plus or minus a trailing token), which is what the dedup pipelines
  are meant to find.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
# 1992-01-01 and the last order date (1998-08-02), in days since epoch
ORDER_DAY0 = 8035
ORDER_DAYS = 2405
VOCAB = ("a the data scan sort hash join merge group filter window query "
         "value key row column table part line order customer vector "
         "stream batch spark agg big small fast slow").split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _write(out_dir, name, table):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def tpch(sf, seed):
    """(orders, lineitem) at scale factor `sf` (sf 0.1 = 150k orders)."""
    rng = np.random.default_rng(seed)
    n = max(1, int(round(1_500_000 * sf)))
    okey = np.arange(n, dtype=np.int64)
    odays = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, n)
    nlines = rng.integers(1, 8, n)
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, max(1, int(150_000 * sf)), n).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": rng.integers(90_000, 50_000_000, n) / 100.0,
        "o_orderdate": pa.array(odays.astype(np.int64) * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })
    m = int(nlines.sum())
    lkey = np.repeat(okey, nlines)
    first = np.repeat(np.cumsum(nlines) - nlines, nlines)
    lnum = (np.arange(m) - first + 1).astype(np.int32)
    qty = rng.integers(1, 51, m)
    ship = np.repeat(odays, nlines) + rng.integers(1, 122, m)
    lineitem = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), m).astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), m).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": qty * rng.integers(90_000, 210_000, m) / 100.0,
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, m)]),
        "l_shipdate": pa.array(ship.astype(np.int64) * DAY_US, pa.timestamp("us")),
    })
    return orders, lineitem


def documents(sf, seed):
    rng = np.random.default_rng(seed)
    n = max(8, int(round(50_000 * sf)))
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src[:-4] if src.endswith(" dup") else src + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(8, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=[.4, .15, .15, .15, .15])]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(sf, seed, dim=64):
    rng = np.random.default_rng(seed)
    n = max(16, int(round(20_000 * sf)))
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def permuted(table, seed):
    """Same rows, seeded order: moves the file layout, not any result."""
    return table.take(np.random.default_rng(seed).permutation(table.num_rows))


def write_tpch(out_dir, sf, seed):
    orders, lineitem = tpch(sf, seed)
    _write(out_dir, "orders", orders)
    _write(out_dir, "lineitem", lineitem)


def write_curation(out_dir, sf, content_seed, order_seed):
    """Curation inputs: content fixed by `content_seed`, so every run's
    oracle digest is the same; `order_seed` only permutes the rows."""
    _, lineitem = tpch(sf, content_seed)
    _write(out_dir, "lineitem", permuted(lineitem, order_seed))
    _write(out_dir, "documents", permuted(documents(sf, content_seed + 1), order_seed + 1))
    _write(out_dir, "embeddings", permuted(embeddings(sf, content_seed + 2), order_seed + 2))
