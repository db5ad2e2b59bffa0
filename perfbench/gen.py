"""Seeded input generator for the graft benchmark.

Every table is drawn from numpy's PCG64 stream keyed by (seed, table),
so the same seed yields byte-identical parquet files and a different
seed yields different ones. The tables copy the physical schema of the
engine's test data (TPC-H-shaped star schema, an events stream,
documents and embeddings), at sizes that let one benchmark run finish
in seconds.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = (["large", "hot", "blue", "old", "cold", "red", "small"],
              ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
TS_EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
DATE_EPOCH_US = 788918400 * 1_000_000  # 1995-01-01T00:00:00
DAY_US = 86_400 * 1_000_000

# Sizes per workload: both match sf0.01, where every oracle is known to
# be hash-exact, and keep one op under a second or two.
SIZES = {
    "cdc_snapshot": dict(customer=1500, orders=15000, lineitem=60000),
    "query_mix": dict(customer=1500, orders=15000, lineitem=60000, part=2000,
                      supplier=100, events=10000, users=150, documents=500,
                      embeddings=500),
}
SNAPSHOT_PARTS = 4
# cdc_tail: fixed-size micro-batches cut from one Zipf-keyed op log.
TAIL_BATCH_OPS = 1000
TAIL_BATCHES = 64
TAIL_KEYS = 2000
# curation_daemon: documents + embeddings, assigned to batches by seed.
CURATION_DOCS = 1200
CURATION_BATCH_DOCS = 100
EMBED_DIM = 64
# the $match every snapshot applies to test.orders (direct=true)
ORDERS_MIN_PRICE = 100000.0


def rng(seed, stream):
    """Independent generator per (seed, table)."""
    return np.random.default_rng([int(seed), stream])


def ts_us(values, tz=None):
    return pa.array(values, type=pa.timestamp("us", tz=tz))


def write(table, path):
    # one row group, fixed writer options: the bytes depend only on the data
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True, store_schema=False)


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def region_nation():
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    return region, nation


def customer(seed, n):
    r = rng(seed, 1)
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)]})


def orders(seed, n, n_cust):
    r = rng(seed, 2)
    days = r.integers(0, 2405, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n)],
        "o_totalprice": money(r, 900.0, 500000.0, n),
        "o_orderdate": ts_us(DATE_EPOCH_US + days * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)]})


def lineitem(seed, n, n_orders, n_part, n_supp):
    r = rng(seed, 3)
    qty = r.integers(1, 51, n).astype(np.float64)
    days = r.integers(1, 2499, n)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": ts_us(DATE_EPOCH_US + days * DAY_US)})


def part(seed, n):
    r = rng(seed, 4)
    a, b = PART_WORDS
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a[i]} {b[j]}" for i, j in
                   zip(r.integers(0, len(a), n), r.integers(0, len(b), n))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, len(PART_TYPES), n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n) % 1000 * 0.1
                                  + r.integers(0, 100, n), 2)})


def supplier(seed, n):
    r = rng(seed, 5)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n)})


def events(seed, n, users):
    r = rng(seed, 6)
    gaps = r.integers(1, 2 * 30 * DAY_US // n, n)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": ts_us(TS_EPOCH_US + np.cumsum(gaps)),
        "user_id": pa.array(r.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n)]})


def texts(r, n):
    """Word-salad documents over the test data's vocabulary; about one
    in eight is an earlier document plus a trailing ``dup`` marker (a
    near duplicate) and one in forty an exact copy."""
    out = []
    for i in range(n):
        kind = r.random()
        if i > 0 and kind < 0.025:
            out.append(out[r.integers(0, i)])
        elif i > 0 and kind < 0.15:
            out.append(out[r.integers(0, i)] + " dup")
        else:
            words = r.integers(0, len(VOCAB), r.integers(10, 100))
            out.append(" ".join(VOCAB[w] for w in words))
    return out


def documents(seed, n):
    r = rng(seed, 7)
    t = texts(r, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": t,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in t], pa.int64())})


def embedding_matrix(r, n):
    """Unit vectors; every tenth repeats an earlier one with small noise
    so the semantic gates see near duplicates."""
    v = r.normal(0.0, 1.0, (n, EMBED_DIM))
    for i in range(10, n, 10):
        v[i] = v[r.integers(0, i)] + r.normal(0.0, 0.02, EMBED_DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def embeddings(seed, n):
    r = rng(seed, 8)
    v = embedding_matrix(r, n)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})


def oplog(seed, n_ops, n_keys):
    """Op log in ``Cdc.eventsAsOpLog``'s shape: Zipf-skewed keys,
    i/u/d at 20/60/20 %, deletes carry no data."""
    r = rng(seed, 9)
    p = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    keys = r.choice(n_keys, n_ops, p=p / p.sum())
    ops = np.array(["i", "u", "u", "u", "d"])[r.integers(0, 5, n_ops)]
    values = np.round(r.exponential(50.0, n_ops), 2)
    props = r.integers(0, 100, n_ops)
    gaps = r.integers(1, 1_000_000, n_ops)
    data = [None if o == "d" else
            {"user_id": int(k), "value": float(v), "props": f'{{"k": {int(q)}}}'}
            for k, o, v, q in zip(keys, ops, values, props)]
    data_type = pa.struct([("user_id", pa.int64()), ("value", pa.float64()),
                           ("props", pa.string())])
    return pa.table({
        "event_id": pa.array(np.arange(n_ops), pa.int64()),
        # a zoned (UTC-adjusted) timestamp, as the op log carries it
        "ts": ts_us(TS_EPOCH_US + np.cumsum(gaps), tz="UTC"),
        "id": [str(int(k)) for k in keys],
        "ns": ["test.events"] * n_ops,
        "op": ops.tolist(),
        "data": pa.array(data, data_type)})


def curation(seed):
    """Documents with embeddings attached (every seventh NULL, as in the
    daemon sweep) and a seeded doc→batch assignment."""
    r = rng(seed, 10)
    n = CURATION_DOCS
    v = embedding_matrix(r, n)
    emb = [None if i % 7 == 0 else v[i] for i in range(n)]
    batch = r.permutation(n) // CURATION_BATCH_DOCS
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts(r, n),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
        "batch": pa.array(batch, pa.int32())})


def digest(out):
    """SHA-256 over every file the generator wrote, by name."""
    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(out)):
        dirs.sort()
        for name in sorted(names):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write the workload's inputs under ``out`` and return a manifest
    of what was written (row counts and the facts the checks need)."""
    os.makedirs(out, exist_ok=True)
    man = {"workload": workload, "seed": int(seed), "tables": {}}

    def put(name, table, parts=1):
        path = os.path.join(out, f"{name}.parquet")
        if parts == 1:
            write(table, path)
        else:  # a directory of part files, one scan task each
            os.makedirs(path)
            step = -(-table.num_rows // parts)
            for i in range(parts):
                write(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
        man["tables"][name] = table.num_rows

    if workload == "cdc_snapshot":
        s = SIZES[workload]
        # split like a sharded source collection: the scan runs on every core
        put("customer", customer(seed, s["customer"]), SNAPSHOT_PARTS)
        put("orders", orders(seed, s["orders"], s["customer"]), SNAPSHOT_PARTS)
        put("lineitem", lineitem(seed, s["lineitem"], s["orders"], 2000, 100),
            SNAPSHOT_PARTS)
        man["orders_min_price"] = ORDERS_MIN_PRICE
    elif workload == "cdc_tail":
        put("oplog", oplog(seed, TAIL_BATCH_OPS * TAIL_BATCHES, TAIL_KEYS))
        man["batch_ops"] = TAIL_BATCH_OPS
        man["batches"] = TAIL_BATCHES
    elif workload == "curation_daemon":
        put("curation", curation(seed))
        man["batch_docs"] = CURATION_BATCH_DOCS
        man["batches"] = CURATION_DOCS // CURATION_BATCH_DOCS
    elif workload == "query_mix":
        s = SIZES[workload]
        region, nation = region_nation()
        put("region", region)
        put("nation", nation)
        put("customer", customer(seed, s["customer"]))
        put("supplier", supplier(seed, s["supplier"]))
        put("part", part(seed, s["part"]))
        put("orders", orders(seed, s["orders"], s["customer"]))
        put("lineitem", lineitem(seed, s["lineitem"], s["orders"], s["part"],
                                 s["supplier"]))
        put("events", events(seed, s["events"], s["users"]))
        put("documents", documents(seed, s["documents"]))
        put("embeddings", embeddings(seed, s["embeddings"]))
    else:
        raise ValueError(f"unknown workload: {workload}")
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f, sort_keys=True)
    return man


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
