"""Seeded TPC-H-ish input tables for the benchmark.

The tables follow the schemas and value ranges of the repository's
testdata (nation, customer, orders, lineitem, documents), so every store
loader and catalog query the benchmark runs reads the columns it expects.
Sizes scale with `sf` as the testdata's do (sf 0.1: 15k customers, 150k
orders, ~600k lines, 5k documents). The same seed always gives the same
rows.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast the row agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
DAY0 = dt.date(1995, 1, 1)
N_DAYS = (dt.date(2001, 8, 1) - DAY0).days + 1


def _rng(seed, table):
    # one stream per table: a table's rows do not depend on which other
    # tables a workload asks for
    return np.random.default_rng([seed, sum(map(ord, table))])


def _ts(days):
    return pa.array((np.datetime64(DAY0) + days.astype("timedelta64[D]"))
                    .astype("datetime64[us]"), pa.timestamp("us"))


def nation(seed, sf):
    keys = np.arange(25, dtype=np.int32)
    return {"n_nationkey": pa.array(keys),
            "n_name": [f"NATION_{i}" for i in keys],
            "n_regionkey": pa.array(keys % 5)}


def customer(seed, sf):
    rng, n = _rng(seed, "customer"), int(150_000 * sf)
    return {"c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)]}


def _order_days(seed, sf):
    n = int(1_500_000 * sf)
    return _rng(seed, "orders.date").integers(0, N_DAYS, n)


def orders(seed, sf):
    rng, n = _rng(seed, "orders"), int(1_500_000 * sf)
    return {"o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, int(150_000 * sf), n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
            "o_orderdate": _ts(_order_days(seed, sf)),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"])[rng.integers(0, 5, n)]}


def lineitem(seed, sf):
    rng, n_ord = _rng(seed, "lineitem"), int(1_500_000 * sf)
    per = rng.integers(1, 8, n_ord)  # 1-7 lines, ~4 per order
    n = int(per.sum())
    first = np.repeat(np.cumsum(per) - per, per)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {"l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), per),
            "l_partkey": rng.integers(0, int(200_000 * sf), n).astype(np.int64),
            "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)), n)
            .astype(np.int64),
            "l_linenumber": pa.array((np.arange(n) - first + 1).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(np.repeat(_order_days(seed, sf), per)
                              + rng.integers(1, 122, n))}


def documents(seed, sf):
    rng, n = _rng(seed, "documents"), max(500, int(50_000 * sf))
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n)]
    # near-duplicates (an earlier document plus one token) and a few exact
    # duplicates, so the dedup queries have pairs to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), 8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


TABLES = {"nation": nation, "customer": customer, "orders": orders,
          "lineitem": lineitem, "documents": documents}


def generate(out, seed, sf, tables):
    """Write the named tables for `seed` at scale `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    for name in tables:
        pq.write_table(pa.table(TABLES[name](seed, sf)),
                       os.path.join(out, f"{name}.parquet"))
