"""Seeded generator for the benchmark's input tables.

Writes the ten canonical tables the engine's queries read (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`, `events`,
`documents`, `embeddings`), one parquet file each, with the schemas and
value distributions of the engine's sf0.1 test data. `scale` is the
scale factor: 0.1 gives 100k events, 5k documents, 2k embeddings and 600k
line items. The same (seed, scale) always gives byte-identical tables.

    python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
US_PER_DAY = 86_400_000_000
TS = pa.timestamp("us")


def sizes(scale):
    """Row counts per table at a scale factor (sf0.1 = the test data's)."""
    n = lambda base: max(10, int(round(base * scale)))
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "users": n(15_000),
            "documents": n(50_000), "embeddings": n(20_000)}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")


def _strings(prefix, ids, width=9):
    return [f"{prefix}{i:0{width}d}" for i in ids]


def tables(seed, scale):
    """Build every table as a pyarrow Table, keyed by name."""
    sz = sizes(scale)
    streams = np.random.SeedSequence(seed).spawn(10)
    rng = {name: np.random.Generator(np.random.PCG64(s)) for name, s in zip(
        ["customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings", "spare1", "spare2"], streams)}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r, n = rng["customer"], sz["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _strings("Customer#", range(n)),
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)]})

    r, n = rng["supplier"], sz["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _strings("Supplier#", range(n)),
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n)})

    r, n = rng["part"], sz["part"]
    adj, noun = r.integers(0, 8, n), r.integers(0, 8, n)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": [PART_TYPES[t] for t in r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})

    r, n = rng["orders"], sz["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, sz["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(r, dt.datetime(1995, 1, 1),
                                      dt.datetime(2001, 8, 1), n), TS),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)]})

    r, n = rng["lineitem"], sz["lineitem"]
    flags = r.integers(0, 3, n)
    status = r.integers(0, 2, n)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, sz["orders"], n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, sz["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, sz["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("F", "O")[i] for i in status],
        "l_shipdate": pa.array(_days(r, dt.datetime(1995, 1, 2),
                                     dt.datetime(2001, 11, 4), n), TS)})

    r, n = rng["events"], sz["events"]
    span = EVENTS_DAYS * US_PER_DAY
    offs = np.unique(r.integers(0, span, n + n // 100 + 16))
    offs = np.sort(r.choice(offs, n, replace=False))  # distinct event times
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64(EVENTS_START, "us") + offs, TS),
        "user_id": pa.array(r.integers(0, sz["users"], n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})

    r, n = rng["documents"], sz["documents"]
    lengths = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # 5% near-duplicates: another document's text with a " dup" suffix.
    dups = r.choice(n, n // 20, replace=False)
    for d, src in zip(dups, r.integers(0, n, len(dups))):
        if src != d:
            texts[d] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r, n = rng["embeddings"], sz["embeddings"]
    vecs = r.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})
    return out


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]),
          float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
