"""Seeded input generator for the lifecycle benchmark.

Writes the three tables the benchmarked entries read (lineitem, orders,
documents) as single parquet files, with the schemas and value ranges of
the repository's TPC-H-shaped fixtures. Row counts depend only on the
block count, so every seed yields inputs of the same size and only their
contents differ.

The chain fixture derives blocks from ``l_orderkey div 16`` and rotates
EOAs and builders on ``l_orderkey mod 192``, so the order keys are a dense
range and every 16 consecutive keys form one block. The range starts at a
multiple of 192 keys (as ``ScaleRehearsal.gen`` shifts its copies), which
keeps the rotation, and at a block that makes the range straddle a
boundary of the actions store's 250-block buckets, so that store is
written as more than one bucket.

Usage: python3 perfbench/gen.py <seed> <out_dir> [blocks]
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BLOCKS = 100           # the largest size the run budget allows (README)
TXS_PER_BLOCK = 16     # the chain fixture's l_orderkey div 16
FIRST_KEY = 17 * 192   # block 204: blocks 204-303 fall in buckets 0 and 1
LINES_PER_ORDER = 4    # mean call frames per transaction
DOCS = 1000
VOCAB = ("query row stream the batch sort value hash filter big data dup part "
         "column order scan a slow agg key window table merge vector join "
         "spark line small fast group customer").split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EPOCH = datetime.datetime(1995, 1, 1)


def _days(rng, n, span):
    return (np.datetime64(EPOCH, "us")
            + rng.integers(0, span, n).astype("timedelta64[D]"))


def lineitem(rng, orders_n):
    n = orders_n * LINES_PER_ORDER
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": FIRST_KEY + rng.integers(0, orders_n, n, dtype=np.int64),
        "l_partkey": rng.integers(0, 20000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1000, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.integers(90068, 10499992, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": _days(rng, n, 2400),
    })


def orders(rng, orders_n):
    n = orders_n
    return pa.table({
        "o_orderkey": FIRST_KEY + np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n // 10, n, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
        "o_totalprice": np.round(rng.integers(100191, 49999319, n) / 100.0, 2),
        "o_orderdate": _days(rng, n, 2400),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    })


def documents(rng, _orders_n):
    """Random-word documents; about a tenth are near-copies of an earlier
    document (a few words replaced) and a few are exact copies, so the
    dedup entries find real duplicate clusters."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(DOCS):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.12:
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                      rng.integers(8, 90))]))
    return pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(LANGS), DOCS),
        "source": np.array([f"src{k}" for k in rng.integers(0, 20, DOCS)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


TABLES = {"lineitem": lineitem, "orders": orders, "documents": documents}


def generate(seed, out_dir, blocks=BLOCKS):
    """Write every table for `seed` under `out_dir`; returns its sizes."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {"seed": seed, "input_bytes": 0}
    for k, (name, make) in enumerate(sorted(TABLES.items())):
        table = make(np.random.default_rng([seed, k]), blocks * TXS_PER_BLOCK)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        stats["input_bytes"] += os.path.getsize(path)
        if name == "lineitem":
            stats["traces"] = table.num_rows
            stats["blocks"] = len(np.unique(table["l_orderkey"].to_numpy() // TXS_PER_BLOCK))
        elif name == "documents":
            stats["docs"] = table.num_rows
    return stats


if __name__ == "__main__":
    print(generate(int(sys.argv[1]), sys.argv[2], *map(int, sys.argv[3:4])))
