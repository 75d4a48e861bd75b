"""Result checks for the graft benchmark.

A `hash` check compares the harness's parquet dump of a result with the
DuckDB oracle SQL of the query that defines it (`SparkEntry.oracleSql`):
same column names and dtypes, same row count and the same order-independent
hash of the rows. Values compare exactly, as scripts/check.py compares them.
Oracle fingerprints are cached per corpus and SQL text, so a seed's oracles
run once. A `recall` check compares the (query_id, neighbor_id) pairs of an
approximate ANN result with those of its exact twin.
"""
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "~N"
    if hasattr(v, "tolist"):
        v = v.tolist()
    return repr(v) if isinstance(v, (list, tuple, dict)) else v


def fingerprint(df: pd.DataFrame) -> dict:
    cols = sorted(df.columns)
    df = df[cols]
    norm = pd.DataFrame({c: df[c].map(_norm) if df[c].dtype == object else df[c]
                         for c in cols})
    row_hashes = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    return {"columns": [f"{c}:{df[c].dtype}" for c in cols], "rows": int(len(df)),
            "hash": int(row_hashes.sum(dtype=np.uint64))}


def _dump(con, out_dir, name):
    return con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(out_dir, 'check', name)}/*.parquet')").df()


def _oracle_fp(con, corpus, name, sql, cache_dir):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, os.path.basename(corpus), f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    fp = fingerprint(con.execute(sql).df())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(fp, f)
    os.replace(path + ".tmp", path)
    return fp


def check(res: dict, out_dir: str, cache_dir: str) -> dict:
    """Returns {check name: reason} for every check that failed."""
    corpus = res["stamps"]["corpus"]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    wrong = {}
    for c in res["checks"]:
        name = c["name"]
        try:
            got = _dump(con, out_dir, name)
            if c["kind"] == "recall":
                exact = _dump(con, out_dir, c["oracle"])
                pairs = lambda d: set(zip(d["query_id"], d["neighbor_id"]))  # noqa: E731
                truth = pairs(exact)
                recall = len(pairs(got) & truth) / max(1, len(truth))
                if not truth or recall < c["floor"]:
                    wrong[name] = f"recall {recall:.3f} < floor {c['floor']} vs {c['oracle']}"
                continue
            want = _oracle_fp(con, corpus, c["oracle"], sqls[c["oracle"]], cache_dir)
            have = fingerprint(got)
            if have != want:
                wrong[name] = f"{have} != oracle {c['oracle']} {want}"
        except Exception as e:  # a check that cannot run is a failed check
            wrong[name] = f"{type(e).__name__}: {e}"
    con.close()
    return wrong
