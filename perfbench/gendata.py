"""Seeded generator for the benchmark's input tables.

Writes the ten harness tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as one parquet file each, in
the schema and value ranges of the repository's fixtures (FIXTURES.md, part A).
The same seed and sizes always give the same values. run.py calls
generate() once per checkout.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "green", "red", "cold", "dark"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def sizes(sf, customer_rows=None):
    n = {
        "customer": int(150000 * sf), "supplier": max(10, int(10000 * sf)),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }
    if customer_rows:
        n["customer"] = customer_rows
    return n


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def _keyed_names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def generate(out, seed, sf, customer_rows=None):
    rng = np.random.default_rng(seed)
    n = sizes(sf, customer_rows)
    os.makedirs(out, exist_ok=True)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    pick = lambda vals, k, p=None: pa.array(np.array(vals)[rng.choice(len(vals), k, p=p)])

    _write(out, "region", {"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})

    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": i64(np.arange(c)), "c_name": _keyed_names("Customer", c),
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": pick(SEGMENTS, c)})

    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": i64(np.arange(s)), "s_name": _keyed_names("Supplier", s),
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})

    p = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out, "part", {
        "p_partkey": i64(np.arange(p)),
        "p_name": pa.array(names[rng.integers(0, len(names), p)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pick(PART_TYPES, p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})

    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": i64(np.arange(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), o),
        "o_orderpriority": pick(PRIORITIES, o)})

    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), li)})

    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, e))
    _write(out, "events", {
        "event_id": i64(np.arange(e)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(1, int(e * 0.015)), e)),
        "event_type": pick(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})

    d = n["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, d)]
    # one document in twenty repeats another one's text with a marker word,
    # so the near-duplicate families find real clusters
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    _write(out, "documents", {
        "doc_id": i64(np.arange(d)), "text": pa.array(texts),
        "lang": pick(LANGS, d, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": i64([len(t) for t in texts])})

    m = n["embeddings"]
    v = rng.standard_normal((m, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": i64(np.arange(m)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, m))})
    return n

