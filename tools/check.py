#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev-only tool, not
part of the library): run each oracle SQL in DuckDB over the sf tables,
compare against the Verify parquet dumps (columns sorted by name,
values compared exactly)."""
import json, sys, math
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    try:
        exp = con.execute(sql).fetchdf()
        got = duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        fails += 1
        continue
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    status = []
    if list(exp.columns) != list(got.columns):
        status.append(f"cols exp={list(exp.columns)} got={list(got.columns)}")
    if len(exp) != len(got):
        status.append(f"rows exp={len(exp)} got={len(got)}")
    if not status:
        # sort rows for comparison (driver may or may not; be strict on
        # values, lenient on order)
        key = list(exp.columns)
        e = exp.sort_values(key, kind="mergesort").reset_index(drop=True)
        g = got.sort_values(key, kind="mergesort").reset_index(drop=True)
        for c in key:
            ev, gv = e[c], g[c]
            if ev.dtype.kind == "f" or gv.dtype.kind == "f":
                ok = ((ev.isna() & gv.isna()) | (ev == gv)).all()
            else:
                ok = ev.astype(str).equals(gv.astype(str))
            if not ok:
                bad = (~((ev.isna() & gv.isna()) | (ev.astype(str) == gv.astype(str)))).idxmax()
                status.append(f"col {c} differs, e.g. row {bad}: exp={ev[bad]!r} got={gv[bad]!r}")
        # also strict: unsorted order equality check
        for c in key:
            if not (exp[c].isna() & got[c].isna()).all() and not exp[c].astype(str).equals(got[c].astype(str)):
                status.append(f"ROW-ORDER differs in col {c}")
                break
    if status:
        fails += 1
        print(f"FAIL {name}: " + "; ".join(status[:3]))
    else:
        print(f"ok   {name} ({len(exp)} rows)")
print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
# a gate: non-zero on any failed or mismatched query, and on an empty
# oracle file (nothing checked is not a pass)
sys.exit(1 if fails or not oracle else 0)
