"""Seeded input generator for the benchmark's workloads.

Follows graft's GenData scheme: every value is a pure function of
(row id, salt) through a splitmix64 mix, so any row count or part
layout yields the same values. The workload seed is folded into every
salt (seed 0 reproduces GenData's values). Tables are written as
multi-part parquet directories with one part per benchmark core, so
scans parallelize the way GenData ladder inputs do. Column types and
encodings (nullable columns, timestamp[us] without a zone) mirror the
test tables described in TESTDATA.md, which the oracle SQL is written
against.

Usage: python3 perfbench/gen.py <outDir> <seed> <sf> <parts>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GOLDEN = 0x9E3779B97F4A7C15


def mix(x):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    z = x + np.uint64(GOLDEN)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


class Gen:
    def __init__(self, seed):
        self.fold = (seed * GOLDEN) & 0xFFFFFFFFFFFFFFFF

    def u(self, ids, salt):
        """Uniform [0, 1) per id, as GenData.u with the seed folded in."""
        s = np.uint64((salt + self.fold) & 0xFFFFFFFFFFFFFFFF)
        with np.errstate(over="ignore"):
            h = mix(ids.astype(np.uint64) * np.uint64(0x100000001B3) + s)
        return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    def next_int(self, ids, salt, bound):
        return (self.u(ids, salt) * bound).astype(np.int64)

    def money(self, ids, salt, lo, hi):
        return np.floor((lo + self.u(ids, salt) * (hi - lo)) * 100) / 100


BASE_VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window"])
LANGS = np.array(["en", "en", "en", "en", "zh", "es", "fr", "de"])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
STATUSES = np.array(["O", "P", "F"])
PART_ADJ = np.array(["red", "small", "hot", "cold", "old", "new", "large",
                     "blue"])
PART_NOUN = np.array(["gear", "gizmo", "widget", "ring", "plate", "anvil",
                      "bolt", "rod"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
RETURN_FLAGS = np.array(["A", "N", "R"])
DAY_US = 86400 * 1000000
BASE_1995_US = 788918400 * 1000000  # 1995-01-01T00:00:00Z
BASE_2024_US = 1704067200 * 1000000  # 2024-01-01T00:00:00Z


def vocab_for(n_docs):
    target = max(len(BASE_VOCAB),
                 int(np.ceil(len(BASE_VOCAB) * np.cbrt(n_docs / 5000.0))))
    return np.array([BASE_VOCAB[i] if i < len(BASE_VOCAB)
                     else f"{BASE_VOCAB[i % len(BASE_VOCAB)]}"
                          f"{i // len(BASE_VOCAB)}" for i in range(target)])


def documents(g, n):
    ids = np.arange(n, dtype=np.int64)
    vocab = vocab_for(n)
    v = len(vocab)
    # word draws for every (doc, position): GenData's rawWords(id)
    draws = np.stack([g.next_int(ids, 100 + i, v) for i in range(100)], 1)
    swaps = np.stack([g.next_int(ids, 5000 + i, v) for i in range(100)], 1)
    length = 10 + g.next_int(ids, 2, 91)
    r = g.u(ids, 1)
    exact_donor = ids - 1 - g.next_int(ids, 4, 8)
    near_donor = ids - 1 - g.next_int(ids, 5, 8)
    texts = []
    for i in range(n):
        if i >= 10 and r[i] < 0.002:
            d = exact_donor[i]
            words = vocab[draws[d, :length[d]]]
        elif i >= 10 and r[i] < 0.008:
            d = near_donor[i]
            words = vocab[draws[d, :length[d]]].copy()
            words[3::7] = vocab[swaps[i, :length[d]][3::7]]
        else:
            words = vocab[draws[i, :length[i]]]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[g.next_int(ids, 6, len(LANGS))]),
        "source": pa.array(np.char.add("src", g.next_int(ids, 7, 20)
                                       .astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })


def embeddings(g, n, dim=64):
    ids = np.arange(n, dtype=np.int64)
    cols = []
    for i in range(dim):
        u1 = np.maximum(g.u(ids, 200 + 2 * i), 1e-12)
        u2 = g.u(ids, 201 + 2 * i)
        cols.append(np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2))
    m = np.stack(cols, 1)
    m = (m / np.sqrt((m * m).sum(1, keepdims=True))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(m.reshape(-1)), dim)
    return pa.table({
        "vec_id": pa.array(ids),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(g.next_int(ids, 3, 10).astype(np.int32)),
    })


def events(g, n, n_users):
    ids = np.arange(n, dtype=np.int64)
    span = 30 * DAY_US
    value = np.floor(np.minimum(-50.0 * np.log1p(-g.u(ids, 13)), 600.0)
                     * 100) / 100
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(BASE_2024_US + (g.u(ids, 10) * span).astype(np.int64),
                       pa.timestamp("us")),
        "user_id": pa.array(g.next_int(ids, 11, n_users)),
        "event_type": pa.array(EVENT_TYPES[g.next_int(ids, 12, 5)]),
        "value": pa.array(value),
        "props": pa.array(np.char.add(np.char.add(
            '{"k": ', g.next_int(ids, 14, 100).astype(str)), "}")),
    })


def date_us(g, ids, salt):
    return BASE_1995_US + (g.u(ids, salt) * 2400).astype(np.int64) * DAY_US


def star(g, sf):
    n_cust, n_supp, n_part = (int(150000 * sf), int(10000 * sf),
                              int(200000 * sf))
    n_orders, n_lines = int(1500000 * sf), int(6000000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    ids = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": pa.array(ids),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ids]),
        "c_nationkey": i32(g.next_int(ids, 20, 25)),
        "c_acctbal": pa.array(g.money(ids, 21, -1000, 10000)),
        "c_mktsegment": pa.array(SEGMENTS[g.next_int(ids, 22, 5)]),
    })
    ids = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": pa.array(ids),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in ids]),
        "s_nationkey": i32(g.next_int(ids, 30, 25)),
        "s_acctbal": pa.array(g.money(ids, 31, 0, 10000)),
    })
    ids = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pa.array(ids),
        "p_name": pa.array(np.char.add(np.char.add(
            PART_ADJ[g.next_int(ids, 40, 8)], " "),
            PART_NOUN[g.next_int(ids, 41, 8)])),
        "p_brand": pa.array(np.char.add("Brand#", g.next_int(ids, 42, 25)
                                        .astype(str))),
        "p_type": pa.array(PART_TYPES[g.next_int(ids, 43, 6)]),
        "p_size": i32(1 + g.next_int(ids, 44, 50)),
        "p_retailprice": pa.array(900.0 + (ids % 1000) * 0.1),
    })
    ids = np.arange(n_orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": pa.array(ids),
        "o_custkey": pa.array(g.next_int(ids, 50, n_cust)),
        "o_orderstatus": pa.array(STATUSES[g.next_int(ids, 51, 3)]),
        "o_totalprice": pa.array(g.money(ids, 52, 1000, 500000)),
        "o_orderdate": pa.array(date_us(g, ids, 53),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[g.next_int(ids, 54, 5)]),
    })
    ids = np.arange(n_lines, dtype=np.int64)
    lineitem = pa.table({
        "l_orderkey": pa.array(g.next_int(ids, 60, n_orders)),
        "l_partkey": pa.array(g.next_int(ids, 61, n_part)),
        "l_suppkey": pa.array(g.next_int(ids, 62, n_supp)),
        "l_linenumber": i32(1 + g.next_int(ids, 63, 7)),
        "l_quantity": pa.array((1 + g.next_int(ids, 64, 50))
                               .astype(np.float64)),
        "l_extendedprice": pa.array(g.money(ids, 65, 900, 105000)),
        "l_discount": pa.array(g.next_int(ids, 66, 11) * 0.01),
        "l_tax": pa.array(g.next_int(ids, 67, 9) * 0.01),
        "l_returnflag": pa.array(RETURN_FLAGS[g.next_int(ids, 68, 3)]),
        "l_linestatus": pa.array(np.where(g.u(ids, 69) < 0.5, "F", "O")),
        "l_shipdate": pa.array(date_us(g, ids, 70),
                               pa.timestamp("us")),
    })
    region = pa.table({"r_regionkey": i32(range(5)),
                       "r_name": pa.array(REGIONS)})
    nation = pa.table({"n_nationkey": i32(range(25)),
                       "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                       "n_regionkey": i32([i % 5 for i in range(25)])})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def write(table, path, parts):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    parts = max(1, min(parts, n))
    for p in range(parts):
        lo, hi = n * p // parts, n * (p + 1) // parts
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{p:05d}.parquet"))


def generate(out_dir, seed, sf, parts):
    """Write all ten tables for (seed, sf); returns {table: rows}."""
    g = Gen(seed)
    n_docs, n_vecs, n_events = int(50000 * sf), int(20000 * sf), \
        int(1000000 * sf)
    tables = {"documents": documents(g, n_docs),
              "embeddings": embeddings(g, n_vecs),
              "events": events(g, n_events, max(1500, int(15000 * sf)))}
    tables.update(star(g, sf))
    counts = {}
    for name, t in tables.items():
        small = name in ("region", "nation")
        write(t, os.path.join(out_dir, f"{name}.parquet"),
              1 if small else parts)
        counts[name] = t.num_rows
    return counts


if __name__ == "__main__":
    out, seed, sf, parts = sys.argv[1], int(sys.argv[2]), \
        float(sys.argv[3]), int(sys.argv[4])
    for name, rows in generate(out, seed, sf, parts).items():
        print(f"{name} {rows}")
