"""Correctness check of one run's query results against DuckDB oracles.

For each query the harness ran, its verification result (parquet under
`<out>/results/<query>`) is compared with the answer of the query's
oracle SQL, run by DuckDB over the same input tables, the way the
project's parity gate (scripts/parity.py, whose row canonicalisation
this reuses) compares them: columns sorted by name, rows sorted, cells
compared exactly, and the column types compared as DuckDB sees them.
Queries with no oracle SQL must return at least one row.

Oracle answers are cached on disk by oracle-SQL text plus a fingerprint
of the input files' bytes, so later runs on the same tables skip the
DuckDB work.
"""
import hashlib
import os
import pickle
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from parity import TABLES, canon  # noqa: E402


def fingerprint(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        with open(os.path.join(data_dir, t + ".parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _answer(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    cols, rows = canon(cur.fetchall(), cols)
    types = {c: t for c, t, *_ in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()}
    return cols, rows, types


def check(data_dir, out_dir, names, oracles, verify_errors, cache_dir):
    """Returns (n_oracle_checked, n_nonempty_checked, {query: reason})."""
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    fp = fingerprint(data_dir)
    n_oracle = n_rows = 0
    failures = {}
    for name in names:
        if name in verify_errors:
            failures[name] = "verification build failed: " + verify_errors[name]
            continue
        res = os.path.join(out_dir, "results", name)
        try:
            mine = _answer(con, f"SELECT * FROM read_parquet('{res}/*.parquet')")
        except duckdb.Error as e:
            failures[name] = f"result unreadable: {e}"
            continue
        sql = oracles.get(name)
        if sql is None:
            n_rows += 1
            if not mine[1]:
                failures[name] = "no oracle SQL and an empty result"
            continue
        n_oracle += 1
        key = hashlib.sha256((sql + "\0" + fp).encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                ref = pickle.load(f)
        else:
            try:
                ref = _answer(con, sql)
            except duckdb.Error as e:
                failures[name] = f"oracle failed: {e}"
                continue
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "wb") as f:
                pickle.dump(ref, f)
            os.replace(tmp, path)
        reason = _diff(mine, ref)
        if reason:
            failures[name] = reason
    con.close()
    return n_oracle, n_rows, failures


def _diff(mine, ref):
    (mc, mr, mt), (rc, rr, rt) = mine, ref
    if mc != rc:
        return f"columns {mc} vs oracle {rc}"
    if len(mr) != len(rr):
        return f"{len(mr)} rows vs oracle {len(rr)}"
    bad = [(a, b) for a, b in zip(mr, rr) if a != b]
    if bad:
        return f"{len(bad)}/{len(mr)} rows differ; first {bad[0][0]} vs {bad[0][1]}"
    skew = [(c, mt.get(c), t) for c, t in rt.items() if mt.get(c) != t]
    if skew:
        return f"column types differ from the oracle's: {skew}"
    return None
