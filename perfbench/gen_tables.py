"""Seeded generator of the batch workload's input tables.

Writes one parquet file per table into a directory, with the schemas the
program's queries read (a TPC-H-like star schema, an `events` table, a
text corpus and an embedding table). The same seed gives the same bytes.

    python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts. lineitem follows from the orders (1 to 7 lines each).
ORDERS = 25_000
CUSTOMERS = 2_500
PARTS = 4_000
SUPPLIERS = 200
EVENTS = 20_000
EVENT_USERS = 300
DOCUMENTS = 500
EMBEDDINGS = 500
DIM = 64

WORDS = ("a the data row key value table column part order customer line query "
         "scan filter join group agg sort merge hash window stream batch spark "
         "vector big small fast slow").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["small", "red", "blue", "hot", "large", "green", "cold", "shiny"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def ts(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def cents(x):
    return np.round(x, 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": cents(rng.uniform(-999.99, 9999.99, CUSTOMERS)),
        "c_mktsegment": rng.choice(SEGMENTS, CUSTOMERS).tolist()})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": cents(rng.uniform(-999.99, 9999.99, SUPPLIERS))})
    out["part"] = pa.table({
        "p_partkey": np.arange(PARTS, dtype=np.int64),
        "p_name": [f"{a} {n}" for a, n in zip(rng.choice(ADJ, PARTS), rng.choice(NOUN, PARTS))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, PARTS)],
        "p_type": rng.choice(PART_TYPES, PARTS).tolist(),
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": cents(900.0 + (np.arange(PARTS) % 1000) * 0.1)})

    orderdate = EPOCH_1995 + rng.integers(0, 6 * 365 + 212, ORDERS) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], ORDERS, p=[0.49, 0.49, 0.02]).tolist(),
        "o_totalprice": cents(rng.uniform(1000.0, 500000.0, ORDERS)),
        "o_orderdate": ts(orderdate),
        "o_orderpriority": rng.choice(PRIORITIES, ORDERS).tolist()})

    lines = rng.integers(1, 8, ORDERS)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(ORDERS, dtype=np.int64), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    perm = rng.permutation(n)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": orderkey[perm],
        "l_partkey": rng.integers(0, PARTS, n).astype(np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, n).astype(np.int64),
        "l_linenumber": pa.array(linenumber[perm], pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": cents(quantity * rng.uniform(900.0, 2100.0, n)),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n).tolist(),
        "l_shipdate": ts(orderdate[orderkey[perm]] + rng.integers(1, 122, n) * DAY_US)})

    out["events"] = pa.table({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, EVENTS))),
        "user_id": rng.integers(0, EVENT_USERS, EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, EVENTS).tolist(),
        "value": cents(rng.uniform(0.01, 500.0, EVENTS)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})

    # ~5% of the documents are near-duplicates of an earlier one: its
    # text with " dup" appended
    texts = []
    for i in range(DOCUMENTS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, DOCUMENTS, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, EMBEDDINGS)
    centers = rng.normal(size=(10, DIM))
    vecs = centers[labels] + 0.8 * rng.normal(size=(EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
