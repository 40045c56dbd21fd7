#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query parquet
dumped by graft.Verify, run the matching oracle SQL in DuckDB over the same
sf tables and compare (rows, schema names, values). Usage:
    python3 tools/check_oracle.py <sfDir> <verifyOutDir>
Exits 1 when any entry is flagged XX (a mismatch or an oracle SQL error).
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
results = {}
for d in sorted(os.listdir(out)):
    path = os.path.join(out, d)
    if not os.path.isdir(path):
        continue
    files = glob.glob(f"{path}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
    if d not in oracle:
        results[d] = f"rows-only: {len(got) if got is not None else 'MISSING'}"
        continue
    try:
        exp = con.sql(oracle[d]).df()
    except Exception as e:
        results[d] = f"ORACLE-SQL-ERROR: {e}"
        continue
    g = got[sorted(got.columns)].reset_index(drop=True)
    e = exp[sorted(exp.columns)].reset_index(drop=True)
    if list(g.columns) != list(e.columns):
        results[d] = f"SCHEMA-MISMATCH: got {list(g.columns)} vs {list(e.columns)}"
        continue
    if len(g) != len(e):
        results[d] = f"ROWCOUNT-MISMATCH: got {len(g)} vs {len(e)}"
        continue
    # value compare: stringify like a hash would
    mismatch = None
    for c in g.columns:
        gs = g[c].map(lambda x: repr(x)).tolist()
        es = e[c].map(lambda x: repr(x)).tolist()
        if gs != es:
            bad = next(i for i,(x,y) in enumerate(zip(gs,es)) if x != y)
            mismatch = f"VALUE-MISMATCH col={c} row={bad}: {gs[bad]} vs {es[bad]}"
            break
    results[d] = mismatch or "OK"

ok = sum(1 for v in results.values() if v == "OK")
bad = 0
for k, v in sorted(results.items()):
    flag = "  " if v == "OK" or v.startswith("rows-only") else "XX"
    bad += flag == "XX"
    print(f"{flag} {k}: {v}")
print(f"\n{ok} OK / {len(results)} total "
      f"({sum(1 for v in results.values() if v.startswith('rows-only'))} rows-only)")
sys.exit(1 if bad else 0)
