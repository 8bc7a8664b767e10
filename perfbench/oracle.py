"""DuckDB replay of SparkEntry.oracleSql for the engine-loops outputs.

The JVM writes each query's output as parquet under <out>/<query> and its
oracle SQL as <out>/<query>.sql; the tables are under <tables>/<name>.parquet.
Outputs are normalized as tools/oracle_check.py does (columns sorted, times
as integers, rows sorted) and compared column by column, floats bit-exactly.
"""
import json
import os

import duckdb
import pandas as pd

TABLES = ("customer", "supplier", "orders", "lineitem", "documents")


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: json.dumps(list(v)) if isinstance(v, list) else str(v))
    try:
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    except TypeError:
        pass
    return df.reset_index(drop=True)


def compare(name, exp, got):
    """Problems between the oracle's frame and the engine's, or []."""
    exp, got = norm(exp), norm(got)
    if list(exp.columns) != list(got.columns):
        return [f"{name}: columns {list(got.columns)} != {list(exp.columns)}"]
    if len(exp) != len(got):
        return [f"{name}: {len(got)} rows, oracle {len(exp)}"]
    for c in exp.columns:
        e, g = exp[c], got[c]
        if (e.dtype.kind in "iu") != (g.dtype.kind in "iu"):
            return [f"{name}: column {c} is {g.dtype}, oracle {e.dtype}"]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            ok = (e.astype("float64").map(lambda v: v.hex() if v == v else "nan")
                  == g.astype("float64").map(lambda v: v.hex() if v == v else "nan"))
        else:
            ok = (e == g) | (e.isna() & g.isna())
        if not ok.all():
            i = int((~ok).idxmax())
            return [f"{name}: column {c} row {i}: engine {g[i]!r}, oracle {e[i]!r}"]
    return []


def connect(tables, work):
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": os.path.join(work, "duckdb-tmp")})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t + '.parquet')}/*.parquet')")
    return con


def queries(out):
    return sorted(f[:-4] for f in os.listdir(out) if f.endswith(".sql"))


def compare_engine(tables, out, work):
    con = connect(tables, work)
    problems = []
    names = queries(out)
    if not names:
        return ["engine-loops: no outputs to compare"]
    for q in names:
        exp = con.execute(open(os.path.join(out, q + ".sql")).read()).df()
        problems += compare(q, exp, pd.read_parquet(os.path.join(out, q)))
    con.close()
    return problems


def self_check(work):
    """The engine outputs SelfCheck wrote must match, and must stop
    matching once one row is changed."""
    tables, out = os.path.join(work, "tables"), os.path.join(work, "engine-out")
    con = connect(tables, work)
    bad = []
    for q in queries(out):
        exp = con.execute(open(os.path.join(out, q + ".sql")).read()).df()
        got = pd.read_parquet(os.path.join(out, q))
        if compare(q, exp, got):
            bad.append(f"{q}: the unchanged output does not match: {compare(q, exp, got)}")
        planted = got.copy()
        col = [c for c in planted.columns if planted[c].dtype.kind in "iuf"][-1]
        planted.loc[0, col] = planted.loc[0, col] + 1
        if not compare(q, exp, planted):
            bad.append(f"{q}: a changed row in column {col} was accepted")
    if not queries(out):
        bad.append("no engine outputs to check")
    con.close()
    return bad
