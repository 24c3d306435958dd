"""Independent output check for the catalog workload.

Each catalog query's Spark result (parquet) is compared with DuckDB running
the query's oracle SQL over the same generated tables. Both sides are
canonicalised the way tools/oracle_check.py does it: columns sorted by name,
cells rendered as text (Decimal as str, float as repr), rows sorted. The
expected side is cached per (seed, SQL text, generator sources) so a seed
seen before costs no DuckDB time.
"""
import hashlib
import json
import os
from decimal import Decimal

import duckdb
import pandas as pd


def dtype_kind(col: pd.Series) -> str:
    k = col.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "timestamp"
    nn = col.dropna()
    if len(nn) == 0:
        return "empty"
    v = nn.iloc[0]
    for t, name in ((Decimal, "decimal"), (bool, "bool"), (int, "int"), (float, "float"), (str, "string")):
        if isinstance(v, t):
            return name
    return type(v).__name__


def fingerprint(df: pd.DataFrame) -> dict:
    """Columns, coarse dtypes, row count and a hash of the canonical rows."""
    cols = sorted(df.columns)
    df = df[cols]

    def norm(v):
        if isinstance(v, Decimal):
            return str(v)
        if isinstance(v, float):
            return repr(v)
        return str(v)

    text = df.apply(lambda c: c.map(norm)) if len(cols) else df
    rows = sorted("\x1f".join(r) for r in text.itertuples(index=False, name=None)) if len(cols) else []
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return {"columns": cols, "dtypes": {c: dtype_kind(df[c]) for c in cols},
            "rows": len(df), "hash": h.hexdigest()}


def connect(tables_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name in ("events", "documents"):
        path = os.path.join(tables_dir, f"{name}.parquet")
        if os.path.isdir(path):  # Spark writes a directory of part files
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(got: dict, want: dict) -> str:
    """Empty string when equal, else what differs."""
    if got["columns"] != want["columns"]:
        return f"columns spark={got['columns']} duckdb={want['columns']}"
    bad = {c: (got["dtypes"][c], want["dtypes"][c]) for c in got["columns"]
           if got["dtypes"][c] != want["dtypes"][c] and "empty" not in (got["dtypes"][c], want["dtypes"][c])}
    if bad:
        return f"dtypes spark-vs-duckdb {bad}"
    if got["rows"] != want["rows"]:
        return f"rows spark={got['rows']} duckdb={want['rows']}"
    if got["hash"] != want["hash"]:
        return "values differ"
    return ""


def check(tables: str, results: str, seed: int, gen_key: str, cache_path: str) -> list:
    """Compares each query result under `results` (one parquet directory per
    query, named in its oracle_sql.json) with DuckDB over `tables`.
    Returns [(name, ok, detail)]."""
    sqls = json.load(open(os.path.join(results, "oracle_sql.json")))
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = None
    out = []
    for name, sql in sqls.items():
        key = hashlib.sha256(f"{gen_key}|{seed}|{sql}".encode()).hexdigest()
        try:
            if key not in cache:
                con = con or connect(tables, os.path.join(results, "duckdb-tmp"))
                cache[key] = fingerprint(con.execute(sql).df())
            got = fingerprint(pd.read_parquet(os.path.join(results, name)))
            diff = compare(got, cache[key])
            out.append((name, diff == "", diff or f"{got['rows']} rows, hash equal"))
        except Exception as e:  # a failed comparison is a failed check
            out.append((name, False, f"error: {e}"))
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, cache_path)
    return out


def summary(tables_dir: str, sqls: dict, names: list, temp_dir: str) -> dict:
    """Shape of a pair of events/documents tables and each query's row count."""
    con = connect(tables_dir, temp_dir)
    q = lambda s: con.execute(s).fetchone()
    ev = q("SELECT count(*), count(DISTINCT user_id), min(ts), max(ts), "
           "count(DISTINCT date_trunc('minute', ts)), count(DISTINCT event_type) FROM events")
    dc = q("SELECT count(*), count(DISTINCT lang), count(DISTINCT source), "
           "count(DISTINCT text), sum(CASE WHEN text LIKE '% dup' THEN 1 ELSE 0 END), "
           "avg(n_chars) FROM documents")
    out = {"events": ev[0], "users": ev[1], "ts_min": str(ev[2]), "ts_max": str(ev[3]),
           "distinct_minutes": ev[4], "event_types": ev[5], "documents": dc[0], "langs": dc[1],
           "sources": dc[2], "distinct_texts": dc[3], "dup_docs": dc[4], "avg_chars": round(dc[5], 1)}
    for name in names:
        out[f"rows.{name}"] = q(f"SELECT count(*) FROM ({sqls[name]})")[0]
    return out
