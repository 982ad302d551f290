"""Correctness checks of query results written by a benchmark run.

Where `SparkEntry.oracleSql` has an entry, the result is compared with the
DuckDB oracle the way `tools/selfcheck.py` does (row count, column names,
dtype classes, canonical value hash; its `canon` is reused). A query
without an oracle fails the check. Oracle results are cached per (SQL, table files) under `.work/oracle_cache`,
so a checkout runs each oracle once."""
import hashlib
import importlib.util
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".work", "oracle_cache")


def _selfcheck():
    path = os.path.join(ROOT, "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("graft_selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _data_key(data_dir, tables):
    h = hashlib.sha256()
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()


def _summary(sc, df):
    cols = sorted(c.lower() for c in df.columns)
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    return {"rows": len(df), "columns": cols,
            "dtypes": {c: sc.dtype_class(df[c].dtype) for c in cols},
            "notna": {c: bool(df[c].notna().any()) for c in cols},
            "hash": sc.canon(df)}


def _oracle(sc, con, sql, data_key):
    os.makedirs(CACHE, exist_ok=True)
    key = hashlib.sha256((data_key + "\n" + sql).encode()).hexdigest()
    path = os.path.join(CACHE, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    rel = con.sql(sql)
    banned = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
              if str(t).upper() in sc.BANNED_ORACLE_TYPES]
    out = _summary(sc, rel.fetchdf())
    out["banned"] = banned
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def check_results(data_dir, results_dir, queries, oracle_sql):
    """Returns (number of checks, list of failure messages)."""
    sc = _selfcheck()
    con = sc.connect_views(data_dir)
    data_key = _data_key(data_dir, sc.TABLES)
    failures = []
    for q in queries:
        qdir = os.path.join(results_dir, q)
        if not os.path.isdir(qdir):
            failures.append(f"{q}: no result written")
            continue
        if q not in oracle_sql:
            failures.append(f"{q}: no oracle to check against")
            continue
        got = _summary(sc, duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetchdf())
        try:
            want = _oracle(sc, con, oracle_sql[q], data_key)
        except Exception as e:  # an oracle that cannot run fails the check
            failures.append(f"{q}: oracle error {e}")
            continue
        problems = []
        if got["rows"] != want["rows"]:
            problems.append(f"rows {got['rows']}/{want['rows']}")
        if got["columns"] != want["columns"]:
            problems.append("columns differ")
        else:
            drift = [c for c in got["columns"] if got["dtypes"][c] != want["dtypes"][c]
                     and got["notna"][c] and want["notna"][c]]
            if drift:
                problems.append("dtype class " + ",".join(drift))
            if got["hash"] != want["hash"]:
                problems.append("value hash differs")
        if want["banned"]:
            problems.append("banned oracle types " + ",".join(want["banned"]))
        if problems:
            failures.append(f"{q}: " + "; ".join(problems))
    return len(queries), failures
