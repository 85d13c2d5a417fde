"""Seeded generator of the operator suite's parquet fixture.

Writes the ten tables the declared queries read (the TPC-H-shaped star
schema, the `events` stream, `documents` and `embeddings`) with the
schemas of FIXTURES.md section B, at the row counts of the sf0.01 scale.
Every value is drawn from a numpy generator seeded by the run seed, so
the same seed gives byte-identical parquet files and another seed gives
different ones; the shape (row counts, domains, types) never changes,
which keeps the suite's cost comparable across seeds.
"""
import hashlib
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + rng.integers(0, span_days, n) * DAY_US).astype("datetime64[us]")


def _tables(seed):
    rng = np.random.default_rng(seed)
    n = SCALE
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p),
                                              rng.choice(PART_NOUN, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, "1995-01-01", 2404, o),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 3500.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, li)})
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * DAY_US, e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": ts.astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, e // 20, e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": _money(rng, 0.01, 500.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(10, 110, d)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    m = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def _parquet_bytes(table):
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def generate(seed, out_dir):
    """Write the fixture for `seed` under out_dir/<table>.parquet and
    return the SHA-256 of all table bytes (sorted by table name)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, table in sorted(_tables(seed).items()):
        data = _parquet_bytes(table)
        with open(os.path.join(out_dir, f"{name}.parquet"), "wb") as f:
            f.write(data)
        h.update(name.encode())
        h.update(data)
    return h.hexdigest()


def self_check(seed):
    """Same seed -> byte-identical tables; another seed -> different."""
    a = _parquet_bytes(_tables(seed)["orders"])
    b = _parquet_bytes(_tables(seed)["orders"])
    c = _parquet_bytes(_tables(seed + 1)["orders"])
    return a == b and a != c
