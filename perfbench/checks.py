"""Output checks: an order-independent fingerprint of a result table, the
DuckDB oracle's fingerprint for the same query, and the comparison.

The comparison follows the repo's correctness gate (tools/check.py):
columns are matched by name, integer and float columns never match each
other, and values compare exactly, in any row order.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

# Part of every cached oracle answer's key: bump it when fingerprint()
# changes, so stale answers are recomputed instead of mismatching.
FINGERPRINT_VERSION = "2"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_MIX = np.uint64(0x100000001B3)


def _canon(v):
    """A canonical text form of one value inside an object column."""
    if v is None:
        return "\x00"
    if isinstance(v, (bool, np.bool_)):
        return f"i:{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return "\x00" if math.isnan(f) else f"f:{f + 0.0!r}"
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}={_canon(x)}"
                              for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (dt.datetime, dt.date, pd.Timestamp)):
        return "t:" + v.isoformat()
    return "o:" + repr(v)


def _column(s):
    """(kind, per-row uint64 hashes) of one column."""
    k = s.dtype.kind
    if k in "iub":
        return "i", pd.util.hash_array(s.to_numpy().astype(np.int64))
    if k == "f":
        x = s.to_numpy().astype(np.float64) + 0.0
        return "f", pd.util.hash_array(np.where(np.isnan(x), np.nan, x))
    # microseconds, the precision of Spark and DuckDB timestamps; unlike
    # nanoseconds they hold sentinels such as 9999-12-31
    if k == "M":
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return "t", pd.util.hash_array(
            s.astype("datetime64[us]").to_numpy().view(np.int64))
    if k == "m":
        return "i", pd.util.hash_array(
            s.astype("timedelta64[us]").to_numpy().view(np.int64))
    return "o", pd.util.hash_array(
        np.array([_canon(v) for v in s.tolist()], dtype=object))


def fingerprint(df):
    """Row count, sorted column names and kinds, and the sum (mod 2^64) of
    per-row hashes: equal for two tables holding the same rows in any
    order."""
    cols = sorted(df.columns)
    h = np.zeros(len(df), dtype=np.uint64)
    kinds = []
    with np.errstate(over="ignore"):
        for c in cols:
            kind, col = _column(df[c])
            kinds.append(kind)
            h = (h * _MIX) ^ col
        total = int(h.sum(dtype=np.uint64))
    return {"rows": len(df), "columns": cols, "kinds": kinds,
            "hash": f"{total:016x}"}


def output_fingerprint(con, path):
    return fingerprint(con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").df())


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_fingerprint(con, cache_dir, sql):
    """The oracle's answer, cached per data set and SQL text."""
    key = hashlib.sha256((FINGERPRINT_VERSION + sql).encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, key + ".json")
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    fp = fingerprint(con.execute(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(fp, f)
    os.replace(path + ".tmp", path)
    return fp


def check_outputs(con, cache_dir, registry, outputs):
    """Check each query's written output against its DuckDB oracle.
    `outputs` maps query -> parquet path. Returns {query: error text} for
    every failed check; a query without an oracle fails."""
    oracle = {q["name"]: q["oracle"] for q in registry}
    failures = {}
    for name, path in sorted(outputs.items()):
        try:
            got = output_fingerprint(con, path)
            if not oracle.get(name):
                failures[name] = "no oracle to check the output against"
                continue
            want = oracle_fingerprint(con, cache_dir, oracle[name])
            if got != want:
                failures[name] = f"output differs from the oracle: {_diff(got, want)}"
        except Exception as e:  # an unreadable output is a failed check
            failures[name] = f"check error: {type(e).__name__}: {e}"[:300]
    return failures


def _diff(got, want):
    for k in ("columns", "kinds", "rows", "hash"):
        if got[k] != want[k]:
            return f"{k} {got[k]} vs {want[k]}"
    return "equal"
