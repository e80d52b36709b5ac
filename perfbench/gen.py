"""Seeded input generators for the benchmark.

Every table has the column names and types of the repository's sf fixtures
(`documents`, `embeddings`, `orders`, `customer`, `lineitem`, `events`) and
their value distributions: the 31-word document vocabulary with uniform
10..100-word texts, 5% planted near-duplicates (another document's text plus
" dup") and a few exact duplicate pairs, 20 sources, `en` on 40% of documents,
ids 0..N-1. The same seed gives byte-identical files; `digest` hashes them.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64


def rng_for(seed, name):
    """An independent, reproducible stream per (seed, table)."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{name}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def documents(seed, n):
    r = rng_for(seed, "documents")
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(VOCAB), r.integers(10, 101))]) for _ in range(n)]
    # 5% near-duplicates: an earlier or later document's text plus " dup"
    for i in r.choice(n, size=n // 20, replace=False):
        j = int(r.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    # a few exact duplicate pairs
    for _ in range(max(1, n // 600)):
        i, j = (int(x) for x in r.choice(n, size=2, replace=False))
        texts[j] = texts[i]
    lang = np.array(LANGS)[r.choice(len(LANGS), size=n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed, n):
    r = rng_for(seed, "embeddings")
    centers = r.normal(size=(10, EMB_DIM))
    label = r.integers(0, 10, n)
    v = centers[label] + 1.5 * r.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _dates(r, n, start, days):
    base = np.datetime64(start, "us")
    return base + (r.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")


def customer(seed, n):
    r = rng_for(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                           "MACHINERY"])[r.integers(0, 5, n)].tolist(), pa.string()),
    })


def orders(seed, n, n_customers):
    r = rng_for(seed, "orders")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_customers, n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n)].tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(_dates(r, n, "1995-01-01", 2400)),
        "o_orderpriority": pa.array(prio[r.integers(0, 5, n)].tolist(), pa.string()),
    })


def lineitem(seed, n, n_orders):
    r = rng_for(seed, "lineitem")
    qty = r.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, 2000, n).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, 100, n).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)].tolist(), pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)].tolist(), pa.string()),
        "l_shipdate": pa.array(_dates(r, n, "1995-01-02", 2500)),
    })


def events(seed, n):
    r = rng_for(seed, "events")
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + np.sort(r.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(r.integers(0, 150, n).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"])
                               [r.integers(0, 5, n)].tolist(), pa.string()),
        "value": pa.array(np.round(r.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string()),
    })


def split_parts(seed, name, n, slices):
    """Part of each id: 0 (the base half) or one of 1..slices (delta slices)."""
    r = rng_for(seed, name + "/split")
    perm = r.permutation(n)
    part = np.zeros(n, dtype=np.int32)
    rest = perm[n // 2:]
    part[rest] = 1 + np.arange(len(rest)) % slices
    return pa.array(part)


def queries(seed, batches, per_batch):
    """Query batches for the index workload: one unit vector per query."""
    r = rng_for(seed, "queries")
    n = batches * per_batch
    v = r.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "batch": pa.array((np.arange(n) // per_batch).astype(np.int32)),
        "qid": pa.array((np.arange(n) % per_batch + 1).astype(np.int32)),
        "vec": pa.array(list(v), pa.list_(pa.float32())),
    })


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_parts(table, part, out_dir):
    """Hive layout `<out_dir>/part=<k>/data.parquet`, one file per part."""
    for k in sorted(set(part.to_pylist())):
        mask = pc.equal(part, k)
        write(table.filter(mask), os.path.join(out_dir, f"part={k}", "data.parquet"))


def make_inputs(workload, seed, out_dir, size):
    """Write the inputs of one workload under `out_dir`."""
    if workload == "disco_jobs":
        n_cust = size["customer"]
        write(documents(seed, size["documents"]), f"{out_dir}/documents.parquet")
        write(embeddings(seed, size["embeddings"]), f"{out_dir}/embeddings.parquet")
        write(customer(seed, n_cust), f"{out_dir}/customer.parquet")
        write(orders(seed, size["orders"], n_cust), f"{out_dir}/orders.parquet")
        write(lineitem(seed, size["lineitem"], size["orders"]), f"{out_dir}/lineitem.parquet")
        write(events(seed, size["events"]), f"{out_dir}/events.parquet")
    elif workload == "index_rw":
        e = embeddings(seed, size["embeddings"])
        write_parts(e, split_parts(seed, "embeddings", e.num_rows, size["slices"]),
                    f"{out_dir}/vecs_split")
        write(queries(seed, size["batches"], size["per_batch"]), f"{out_dir}/queries.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")


def digest(out_dir):
    """sha256 over every generated file, by relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out_dir):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
