"""DuckDB oracle gate for the ops pack: each query's Spark output (parquet)
against its `SparkEntry.oracleSql` run by DuckDB over the same sampled
tables, compared as tools/check_oracles.py compares them (columns by name,
rows in canonical order by its `norm`, floats exactly, everything else as
text)."""
import glob
import json
import os
import sys

TABLES = ("documents", "embeddings", "events", "orders", "customer")
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def compare(spark_df, duck_df):
    """None when equal, else the first difference."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    from check_oracles import norm
    s, d = norm(spark_df), norm(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = bool(((a.isna() & b.isna()) | (a == b)).all())
        else:
            ok = bool((a.astype(str) == b.astype(str)).all())
        if not ok:
            bad = a.astype(str) != b.astype(str)
            i = bad[bad].index[0]
            return f"{c}[{i}]: {a[i]!r} vs {b[i]!r}"
    return None


def check(out_dir, sample_dir):
    """One gate per oracled query whose output exists under `out_dir`."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sample_dir}/{t}.parquet/*.parquet')")
    gates = []
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            gates.append({"name": f"oracle:{name}", "ok": False, "detail": "no output"})
            continue
        try:
            diff = compare(pd.concat([pd.read_parquet(f) for f in files]), con.sql(sql).df())
        except Exception as e:  # a failing oracle run is a failed gate, not a crash
            diff = f"{type(e).__name__}: {e}"
        gates.append({"name": f"oracle:{name}", "ok": diff is None, "detail": diff or ""})
    return gates
