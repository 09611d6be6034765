#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the sfDir parquet tables and compare (rows, schema, values)
with the engine's Verify output parquet. Columns are sorted by name before
comparison.

Every oracle in oracle_sql.json must have an output directory: Verify deletes
the directory of a query that failed, so a missing one is a FAIL, never a
silent pass."""
import json, math, sys, glob, os
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
fails, passes, skips = [], [], []
outputs = {n for n in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{n}")}
for name in sorted(set(oracles) - outputs):
    fails.append(f"{name}: MISSING (no output; the query failed or did not run)")
for name in sorted(outputs):
    d = f"{out_dir}/{name}"
    got = con.sql(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    got = got.reindex(sorted(got.columns), axis=1)
    if name not in oracles:
        skips.append(f"{name}: rows={len(got)} (no oracle)")
        continue
    try:
        want = con.sql(oracles[name]).fetchdf()
    except Exception as e:
        fails.append(f"{name}: ORACLE SQL ERROR {e}")
        continue
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        fails.append(f"{name}: COLS got={list(got.columns)} want={list(want.columns)}")
        continue
    if len(got) != len(want):
        fails.append(f"{name}: ROWS got={len(got)} want={len(want)}")
        continue
    bad = None
    for c in got.columns:
        gv, wv = got[c].tolist(), want[c].tolist()
        for i, (g, w) in enumerate(zip(gv, wv)):
            gn = g is None or (isinstance(g, float) and math.isnan(g))
            wn = w is None or (isinstance(w, float) and math.isnan(w))
            if gn and wn:
                continue
            if gn != wn or str(g) != str(w):
                bad = f"{name}: col={c} row={i} got={g!r} want={w!r}"
                break
        if bad:
            break
    if bad:
        fails.append(bad)
    else:
        passes.append(name)

print(f"PASS ({len(passes)}):", " ".join(passes))
for s in skips:
    print("SKIP", s)
for f in fails:
    print("FAIL", f)
sys.exit(1 if fails else 0)
