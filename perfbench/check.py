"""Correctness checks for benchmark outputs.

Two kinds:
- run-to-run: every run's output tables must hash equal to the first
  run's. Rows are put in the canonical order of `tools/check_oracle.py`
  (columns sorted by name, rows sorted by every column) before hashing,
  so a hash depends on the rows, never on partitioning.
- reference: once per invocation, the registry's DuckDB oracle SQL run
  on the generated tables (compared value by value, as
  `tools/check_oracle.py` does), and brute-force cosine for K-NN search.
"""
import glob
import hashlib
import os
import re

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    """The canonical form of `tools/check_oracle.py` (kept identical; the
    benchmark's tests compare the two on generated frames)."""
    df = df[sorted(df.columns)]
    # unify dtypes a bit: times->ns, categories->str
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_hash(df):
    """sha256 over the canonical frame: column names, dtypes, then every
    row's values."""
    c = canon(df)
    h = hashlib.sha256()
    for name in c.columns:
        h.update(f"{name}:{c[name].dtype};".encode())
    if len(c):
        h.update(pd.util.hash_pandas_object(c, index=False).values.tobytes())
    return h.hexdigest()


def run_hashes(run_dir):
    """{table name: hash} for every output table a run wrote."""
    out = {}
    for t in sorted(os.listdir(run_dir)) if os.path.isdir(run_dir) else []:
        if os.path.isdir(os.path.join(run_dir, t)):
            out[t] = frame_hash(pd.read_parquet(os.path.join(run_dir, t)))
    return out


def compare(got, exp):
    """check_oracle.py's comparison: None when equal, else the reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"schema got={list(g.columns)} exp={list(e.columns)}"
    if len(g) != len(e):
        return f"rows got={len(g)} exp={len(e)}"
    for c in g.columns:
        kinds = {g[c].values.dtype.kind, e[c].values.dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            return f"dtype col={c} got={g[c].values.dtype} exp={e[c].values.dtype}"
    for c in g.columns:
        gv, ev = g[c].values, e[c].values
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            eq = (pd.isna(gv) & pd.isna(ev)) | (gv == ev)
        else:
            try:
                eq = (gv == ev) | (pd.isna(gv) & pd.isna(ev))
            except Exception:
                eq = np.array([str(a) == str(b) for a, b in zip(gv, ev)])
        if not np.all(eq):
            i = int(np.argmin(eq))
            return (f"values col={c} ndiff={int((~eq).sum())} "
                    f"e.g. row{i}: got={gv[i]!r} exp={ev[i]!r}")
    return None


def split_ctes(sql):
    """Split `WITH [RECURSIVE] a AS (...), b(x, y) AS (...) SELECT ...`
    into ([(name, columns or None, body)], final select). Parentheses
    inside quoted strings do not count."""
    rest = re.sub(r"^\s*WITH(\s+RECURSIVE)?\s+", "", sql, flags=re.I)
    if rest == sql:
        return [], sql
    ctes = []
    while True:
        m = re.match(r"\s*(\w+)\s*(\([^)]*\))?\s+AS\s*\(", rest, flags=re.I)
        if not m:
            return ctes, rest
        depth, i, quoted = 1, m.end(), False
        while depth:
            ch = rest[i]
            if ch == "'":
                quoted = not quoted
            elif not quoted:
                depth += {"(": 1, ")": -1}.get(ch, 0)
            i += 1
        ctes.append((m.group(1), m.group(2), rest[m.end():i - 1]))
        rest = rest[i:].lstrip()
        if not rest.startswith(","):
            return ctes, rest
        rest = rest[1:]


def run_sql(con, sql):
    """Run `sql` with each common table expression materialised as a
    temporary table first. Same result as running it whole; DuckDB
    otherwise re-evaluates a CTE at every reference and at every step
    of a recursive one."""
    ctes, final = split_ctes(sql)
    for name, cols, body in ctes:
        if re.search(rf"\b{name}\b", body):  # recursive
            q = f"WITH RECURSIVE {name}{cols or ''} AS ({body}) SELECT * FROM {name}"
        elif cols:
            q = f"SELECT * FROM ({body}) AS {name}{cols}"
        else:
            q = body
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {q}")
    return con.execute(final).fetchdf()


def oracle(sql, data_dir, got):
    """Run a registry oracle query over the generated tables (DuckDB
    views named after the tables) and compare it with Spark's output."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{p}/*.parquet')")
    exp = run_sql(con, sql)
    con.close()
    return compare(got, exp)


def knn_recall(data_dir, found, k=10):
    """Recall@k of the served neighbours against brute-force cosine over
    the whole corpus, and the largest error of a reported similarity."""
    corpus = pd.read_parquet(os.path.join(data_dir, "embeddings.parquet"))
    queries = pd.read_parquet(os.path.join(data_dir, "queries.parquet"))
    cv = np.stack(corpus["embedding"].values).astype(np.float64)
    qv = np.stack(queries["embedding"].values).astype(np.float64)
    cv /= np.linalg.norm(cv, axis=1, keepdims=True)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    sims = qv @ cv.T
    ids = corpus["vec_id"].values
    pos = {int(v): i for i, v in enumerate(ids)}
    hits, sim_err = 0, 0.0
    by_q = {q: g for q, g in found.groupby("q_id")}
    for qi, qid in enumerate(queries["vec_id"].values):
        order = np.lexsort((ids, -sims[qi]))[:k]
        exact = set(int(v) for v in ids[order])
        g = by_q.get(qid)
        if g is None:
            continue
        hits += len(exact & set(int(v) for v in g["n_id"].values))
        for n, s in zip(g["n_id"].values, g["sim"].values):
            sim_err = max(sim_err, abs(float(s) - sims[qi, pos[int(n)]]))
    return hits / (k * len(queries)), sim_err
