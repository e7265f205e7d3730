#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query (dev-only
tool, not part of the library): the same query set, and for each query
the same column names and types and the same rows in the same order.
Row order is compared by numbering each dump's rows in file order and
running EXCEPT ALL both ways in DuckDB.

    python3 tools/dump_diff.py <parent_verify_dir> <change_verify_dir>

Exits 0 when every dump is equal; prints one line per difference."""
import pathlib, sys
import duckdb

a_dir, b_dir = (pathlib.Path(p) for p in sys.argv[1:3])
queries = lambda d: {p.name for p in d.iterdir() if p.is_dir()}
qa, qb = queries(a_dir), queries(b_dir)
diffs = [f"only in {a_dir}: {q}" for q in sorted(qa - qb)] + \
        [f"only in {b_dir}: {q}" for q in sorted(qb - qa)]
con = duckdb.connect()
for q in sorted(qa & qb):
    rel = lambda d: f"(SELECT row_number() OVER () AS rn__, * FROM read_parquet('{d / q}/*.parquet'))"
    try:
        ta = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{a_dir / q}/*.parquet')").fetchall()
        tb = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{b_dir / q}/*.parquet')").fetchall()
        if [c[:2] for c in ta] != [c[:2] for c in tb]:
            diffs.append(f"{q}: schema {[c[:2] for c in ta]} != {[c[:2] for c in tb]}")
            continue
        n = con.execute(f"SELECT (SELECT count(*) FROM (SELECT * FROM {rel(a_dir)} EXCEPT ALL SELECT * FROM {rel(b_dir)})),"
                        f" (SELECT count(*) FROM (SELECT * FROM {rel(b_dir)} EXCEPT ALL SELECT * FROM {rel(a_dir)}))").fetchone()
        if n != (0, 0):
            diffs.append(f"{q}: {n[0]} rows only in {a_dir}, {n[1]} only in {b_dir}")
    except duckdb.Error as e:
        diffs.append(f"{q}: {type(e).__name__}: {e}")
print("\n".join(diffs))
print(f"{len(qa & qb) - sum(1 for d in diffs if not d.startswith('only in'))}/{len(qa | qb)} dumps equal")
sys.exit(1 if diffs else 0)
