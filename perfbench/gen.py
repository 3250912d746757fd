"""Seeded input generator for the benchmark.

The shapes follow the sf0.1 test tables (TESTDATA.md): lineitem columns
and value ranges, documents with 5% planted near-copies, unit-norm
64-dim embeddings. Every value is drawn from a numpy generator seeded
with the given seed, so the same seed gives byte-identical inputs; run.py
passes one fixed seed, and the benchmark's --seed picks the ops instead.

lineitem also carries `rid`, a seeded permutation of 0..n-1 that the
harness uses as the unique clustering key, and two fixed-width binary
columns: `supp_addr` (20 bytes, from l_suppkey) and `order_hash` (32 bytes,
from l_orderkey).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "fr", "es", "de"]
LANGP = [0.41, 0.15, 0.15, 0.15, 0.14]

# lineitem at sf0.1; the LLM corpus at sf0.01, where one gate takes about
# a second on 4 cores (at sf0.1 one round of the six gates takes 20 s)
N_LINEITEM = 600_000
N_ORDERS = 150_000
N_PART = 20_000
N_SUPP = 1_000
N_DOCS = 500
N_EMB = 500


def _ts_days(rng, n, lo, hi):
    days = rng.integers(lo, hi, n).astype("timedelta64[D]")
    return (np.datetime64("1992-01-01") + days).astype("datetime64[us]")


def _digests(keys, algo, width):
    """`width`-byte digest of each key's decimal string (few distinct keys)."""
    uniq, inv = np.unique(keys, return_inverse=True)
    table = np.frombuffer(b"".join(hashlib.new(algo, str(int(k)).encode()).digest()[:width]
                                   for k in uniq), np.uint8).reshape(len(uniq), width)
    data = np.ascontiguousarray(table[inv]).tobytes()
    return pa.FixedSizeBinaryArray.from_buffers(pa.binary(width), len(keys), [None, pa.py_buffer(data)])


def lineitem(rng, n=N_LINEITEM):
    orderkey = rng.integers(0, N_ORDERS, n)
    suppkey = rng.integers(0, N_SUPP, n)
    return pa.table({
        "rid": pa.array(rng.permutation(n), pa.int64()),
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(suppkey, pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts_days(rng, n, 1, 2499),
        # the 20- and 32-byte columns that take olive's dict20/dict32 path
        "supp_addr": _digests(suppkey, "sha1", 20),
        "order_hash": _digests(orderkey, "sha256", 32),
    })


def documents(rng, n=N_DOCS):
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].split()
            words = [w if rng.random() >= 0.02 else vocab[int(rng.integers(0, 30))]
                     for w in base if w != "dup"]
            words.append("dup")
        else:
            words = list(vocab[rng.integers(0, 30, int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANGP)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int64()),
    })


def embeddings(rng, n=N_EMB):
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


TABLES = {"lineitem": lineitem, "documents": documents, "embeddings": embeddings}


def generate(out_dir, seed, names):
    """Writes `<name>.parquet` for each name into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        # one generator per table, so a table's content depends only on
        # (seed, name) and not on which other tables a workload asks for
        rng = np.random.default_rng([seed, sorted(TABLES).index(name)])
        path = os.path.join(out_dir, f"{name}.parquet")
        table = TABLES[name](rng)
        # several row groups, so Spark reads the file with several tasks
        pq.write_table(table, path, row_group_size=max(1, table.num_rows // 16))
