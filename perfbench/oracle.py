"""DuckDB oracle for batch_suite: runs each query's oracle SQL (as
SparkEntry.oracleSql gives it) over the generated tables and compares
with the engine's output the same way tools/check_oracle.py does:
columns sorted by name, rows sorted, exact values (nulls equal)."""
import glob
import json
import os
import sys
import time

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """None when equal, else a one-line reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        try:
            eq = (g.values == w.values) | (g.isna().values & w.isna().values)
        except Exception:
            eq = g.astype(str).values == w.astype(str).values
        if not eq.all():
            i = int((~eq).argmax())
            return f"col {c} row {i}: engine={g.iloc[i]!r} duckdb={w.iloc[i]!r}"
    return None


def check(out_dir, tables_dir):
    """Returns (queries checked, mismatches, findings)."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad, notes = 0, []
    for name in sorted(oracle):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            why = "no engine output"
        else:
            got = pd.concat([pd.read_parquet(f) for f in files])
            t0 = time.time()
            want = con.execute(oracle[name]).df()
            print(f"[perfbench] oracle {name} {time.time() - t0:.1f}s", file=sys.stderr)
            why = compare(got, want)
        if why:
            bad += 1
            notes.append(f"oracle mismatch {name}: {why}")
    return len(oracle), bad, notes
