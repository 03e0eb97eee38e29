"""Correctness gate: every captured engine output against its DuckDB oracle.

Both sides are reduced to an order-independent canonical form — columns
sorted by name, every value normalized (timestamps to ISO text, decimals
and floats to float, nested values to tuples), rows sorted — and compared
row by row, floats within a relative 1e-9. Oracle results depend only on
the SQL text and the input files, so they are cached per (SQL, data set).
"""
import datetime as dt
import decimal
import glob
import hashlib
import math
import os
import pickle

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
REL_TOL = 1e-9


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat(sep=" ")
    return v


def sort_key(v):
    if v is None:
        return (0,)
    if isinstance(v, (bool, int, float)):
        return (1, float(v))
    if isinstance(v, tuple):
        return (3, tuple(sort_key(x) for x in v))
    return (2, str(v))


def canonical(table):
    cols = sorted(table.column_names)
    rows = [tuple(norm(r[c]) for c in cols) for r in table.select(cols).to_pylist()]
    rows.sort(key=lambda r: tuple(sort_key(x) for x in r))
    return cols, rows


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, (str, tuple)) or isinstance(b, (str, tuple)):
            return a == b
        return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def compare(spark_canon, oracle_canon):
    (ca, ra), (cb, rb) = spark_canon, oracle_canon
    if ca != cb:
        return f"columns differ: engine={ca} oracle={cb}"
    if len(ra) != len(rb):
        return f"row count differs: engine={len(ra)} oracle={len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if not same(x, y):
            return f"row {i} differs: engine={x!r:.300} oracle={y!r:.300}"
    return None


def oracle_result(con, sql, data_dir, cache_dir):
    key = hashlib.sha256((os.path.abspath(data_dir) + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    canon = canonical(con.execute(sql).arrow())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(canon, f)
    os.replace(tmp, path)
    return canon


def compare_all(result, data_dir, cache_dir):
    """[(output name, failure message)] for every oracle'd output."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = []
    for name, sql in sorted(result["oracles"].items()):
        files = glob.glob(os.path.join(result["check_dir"], name, "*.parquet"))
        if not files:
            failures.append((name, "no engine output"))
            continue
        try:
            mine = canonical(pq.read_table(files))
            msg = compare(mine, oracle_result(con, sql, data_dir, cache_dir))
        except Exception as e:  # an unreadable output is a failed output
            msg = f"{type(e).__name__}: {e}"
        if msg:
            failures.append((name, msg))
    con.close()
    return failures


def row_counts(result):
    return {name: sum(pq.ParquetFile(f).metadata.num_rows for f in
                      glob.glob(os.path.join(result["check_dir"], name, "*.parquet")))
            for name in sorted(result["oracles"])}
