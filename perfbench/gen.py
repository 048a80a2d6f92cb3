#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables graft's queries read (`events`, the TPC-H-shaped
star, `documents`, `embeddings`) as one parquet file each, with the
schemas and value domains of the sf-scaled test tables: uniform
per-table keys, `events` in time order over January 2024, exponential
event values with two decimals, a 5% share of near-duplicate documents
(a copy of another document plus the token `dup`), and unit-norm
64-dimensional embeddings. Row counts scale linearly with `sf`
(sf 0.1 = 100 000 events, 600 000 lineitems, 5 000 documents).

The same (seed, sf) always gives byte-identical tables.

    python3 perfbench/gen.py OUT_DIR SEED SF [TABLE ...]
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.148, 0.148, 0.144]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
JAN_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000


def _ts_us(v):
    return pa.array(v.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _days(rng, n, lo_days, hi_days):
    # whole days since 1995-01-01 as timestamp[us]
    base = 788918400 * 1_000_000
    return _ts_us(base + rng.integers(lo_days, hi_days, n) * DAY_US)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng, sf):
    n = int(1_000_000 * sf)
    users = max(1, int(15_000 * sf))
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + JAN_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, n, 1, 2499),
    })


def orders(rng, sf):
    n = int(1_500_000 * sf)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, int(150_000 * sf)), n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n, 0, 2404),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def customer(rng, sf):
    n = max(1, int(150_000 * sf))
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def supplier(rng, sf):
    n = max(1, int(10_000 * sf))
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
    })


def part(rng, sf):
    n = max(1, int(200_000 * sf))
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })


def nation(rng, sf):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })


def region(rng, sf):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })


def documents(rng, sf):
    n = max(20, int(50_000 * sf))
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # 5% near-duplicates: another document's text plus one token
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, sf):
    n = max(20, int(20_000 * sf))
    v = rng.normal(size=(n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


TABLES = {f.__name__: f for f in
          (events, lineitem, orders, customer, supplier, part, nation, region,
           documents, embeddings)}


def generate(out_dir, seed, sf, names=None):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name in names or TABLES:
        # one independent stream per table, so generating a subset of
        # tables gives the same rows as generating all of them
        idx = list(TABLES).index(name)
        rng = np.random.Generator(np.random.PCG64([seed, idx, 0x6a57]))
        pq.write_table(TABLES[name](rng, sf), out / f"{name}.parquet")


def replay(out_dir):
    """Writes `replay.csv` next to `events.parquet`: one line per event in
    event_id order, `user_id,ts_us,event_type,count` with count =
    floor(value * 100), the fields the ingest generator turns into
    envelopes, so the workload JVM reads them without a Spark job."""
    out = Path(out_dir) / "replay.csv"
    if out.exists():
        return
    t = pq.read_table(Path(out_dir) / "events.parquet").sort_by("event_id")
    ts = t["ts"].cast(pa.int64()).to_numpy()
    cnt = np.floor(t["value"].to_numpy() * 100).astype(np.int64)
    lines = (f"{u},{s},{e},{c}\n" for u, s, e, c in
             zip(t["user_id"].to_numpy(), ts, t["event_type"].to_pylist(), cnt))
    tmp = out.with_suffix(".tmp")
    tmp.write_text("".join(lines))
    tmp.rename(out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4:] or None)
