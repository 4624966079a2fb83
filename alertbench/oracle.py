"""DuckDB oracle check for the corpus queries of a traced run.

Each corpus query's Spark output (parquet under <root>/out/<query>/) must
equal its oracle SQL (<root>/oracle_sql.json, from SparkEntry.oracleSql)
run in DuckDB over the same generated tables, compared the way the
repository's tools/check.py compares: columns sorted by name, same row
count, floats equal with NaN == NaN, everything else equal as strings.
"""
import glob
import json
import os

TABLES = ("documents", "embeddings")


def load_result(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(name, got, exp):
    """Problems found comparing one query's output with its oracle."""
    import numpy as np
    import pandas as pd
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return [f"{name}: columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{name}: rows {len(got)} != {len(exp)}"]
    problems = []
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            if not np.array_equal(g.astype(float), e.astype(float), equal_nan=True):
                d = np.abs(g.astype(float) - e.astype(float))
                problems.append(f"{name}: column {c} max abs diff {np.nanmax(d):.3e}")
        else:
            gs, es = pd.Series(g).astype(str), pd.Series(e).astype(str)
            if not (gs == es).all():
                i = int((gs != es).idxmax())
                problems.append(f"{name}: column {c} first diff row {i}: {g[i]!r} != {e[i]!r}")
    return problems


def check(root):
    """(problems, queries checked) for every query in
    <root>/oracle_sql.json; no problems when every one matches."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    for t in TABLES:
        pattern = os.path.join(root, "tables", f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    with open(os.path.join(root, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    problems = []
    for name, sql in oracles.items():
        got = load_result(os.path.join(root, "out", name))
        if got is None:
            problems.append(f"{name}: no Spark output")
            continue
        try:
            exp = con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append(f"{name}: oracle error {str(e)[:200]}")
            continue
        problems += compare(name, got, exp)
    return problems, len(oracles)
