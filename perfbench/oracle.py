"""DuckDB oracle check for `query_sweep`: each query's Spark output
(written untimed after the timed passes) against the query's oracle SQL
over the same generated tables. Per query it compares the row count and
an order-independent fingerprint of the rows — columns sorted by name,
rows sorted, floats compared bit-exactly, dtypes equal — the rule of the
repo's own oracle gate.
"""
import hashlib
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def fingerprint(df):
    """(rows, dtypes, sha256 of the sorted canonical rows)."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_canon(v) for v in r) for r in df[cols].itertuples(index=False))
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(rows), tuple(f"{c}:{df[c].dtype}" for c in cols), h


def check(data_dir, out_dir):
    """Return {query: (ok, detail, oracle row count or None)} for every
    query with oracle SQL."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    res = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(os.path.join(out_dir, name))
        except Exception:  # a missing output fails the query
            got = None
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            res[name] = (False, f"oracle sql failed: {str(e)[:200]}", None)
            continue
        if got is None:
            res[name] = (False, "spark output missing", len(exp))
            continue
        fg, fe = fingerprint(got), fingerprint(exp)
        if fg == fe:
            res[name] = (True, f"rows={fg[0]} hash={fg[2]}", fe[0])
        else:
            res[name] = (False, f"got rows={fg[0]} hash={fg[2]} types={fg[1]}; "
                                f"want rows={fe[0]} hash={fe[2]} types={fe[1]}", fe[0])
    con.close()
    return res
