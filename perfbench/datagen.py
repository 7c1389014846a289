"""Deterministic generator for the benchmark's parquet tables.

Writes the ten tables the registry queries read (a TPC-H-like star schema,
an `events` stream table, and the `documents` / `embeddings` tables of the
LLM-pipeline queries) with the schemas, value domains and distributions
documented in FIXTURES.md, at a chosen scale factor. The generator seed is
fixed: every run of the benchmark reads identical tables, so the cached
oracle answers stay valid, and the benchmark's own `--seed` only reorders
work.

Run directly to write a data directory:
    python3 perfbench/datagen.py <out_dir> [scale]
"""
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
VERSION = "1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10


def row_counts(scale):
    """Rows per table at `scale` (1.0 = the TPC-H sf1 cardinalities)."""
    def n(per_sf1, floor=1):
        return max(floor, int(round(per_sf1 * scale)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": n(50_000, 500), "embeddings": n(20_000, 500),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Uniform midnight timestamps in [start, end] as datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return np.datetime64(start, "us") + d.astype("timedelta64[D]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out, scale):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(GENERATOR_SEED)
    n = row_counts(scale)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})

    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})

    p = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": _pick(rng, names, p),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)})

    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": _pick(rng, ORDER_STATUS, o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), o),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})

    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, RETURN_FLAGS, li),
        "l_linestatus": _pick(rng, LINE_STATUS, li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), li)})

    e = n["events"]
    # arrivals over 30 days with exponential gaps, microsecond precision
    gaps = rng.exponential(30 * 86400e6 / e, e)
    ts_us = np.minimum(np.cumsum(gaps), 30 * 86400e6 - 1).astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), i64),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    _write(out, "documents", _documents(rng, n["documents"]))

    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, m), i32)})


def _documents(rng, d):
    """Word-soup documents with planted near-duplicates and exact copies.

    Five percent of the documents are near-duplicates of an earlier one
    (at most three words replaced, then the marker word `dup` appended),
    and a few are exact copies under another language and source, so the
    dedup and similarity queries find real clusters.
    """
    texts = []
    for _ in range(d):
        words = rng.choice(VOCAB, int(rng.integers(10, 100)))
        texts.append(list(words))
    near = rng.choice(np.arange(1, d), d // 20, replace=False)
    for i in sorted(near):
        base = list(texts[int(rng.integers(0, i))])
        for _ in range(int(rng.integers(0, 4))):
            base[int(rng.integers(0, len(base)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = base + ["dup"]
    exact = rng.choice(np.arange(1, d), max(1, d // 600), replace=False)
    for i in sorted(exact):
        texts[i] = list(texts[int(rng.integers(0, i))])
    text = [" ".join(w) for w in texts]
    return {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": text,
        "lang": _pick(rng, LANGS, d, LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}


def ensure(base, scale):
    """The data directory for `scale` under `base`, generated once."""
    out = os.path.join(base, "data", f"scale{scale}-v{VERSION}")
    if not os.path.isfile(os.path.join(out, "_DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, scale)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
