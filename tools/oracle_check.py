#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tool only; the
shipped engine is pure Scala).

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Registers each <sfDir>/<table>.parquet as a DuckDB view, runs every
oracle SQL from <verifyOutDir>/oracle_sql.json, and compares against the
Spark result parquet in <verifyOutDir>/<name>/ — columns sorted by name,
rows sorted, exact value equality. The summary line also names every
PASS that compared 0 rows with 0 rows: such a pass shows nothing about
the query, so each needs a spec with planted positives.
"""
import json
import glob
import math
import sys

import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for f in glob.glob(f"{sf_dir}/*.parquet"):
    name = f.split("/")[-1].removesuffix(".parquet")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
# single-query Verify runs dump only the named queries: --dumped-only
# checks just those instead of printing a FAIL wall for absent dirs
if "--dumped-only" in sys.argv:
    import os
    oracle = {n: s for n, s in oracle.items()
              if os.path.isdir(f"{out_dir}/{n}")}
fails = []
empty = []
for name, sql in sorted(oracle.items()):
    try:
        exp = con.execute(sql).df()
    except Exception as ex:
        print(f"FAIL {name}: oracle SQL error: {ex}")
        fails.append(name)
        continue
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
    except Exception as ex:
        print(f"FAIL {name}: spark result unreadable: {ex}")
        fails.append(name)
        continue
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
        fails.append(name)
        continue
    if len(exp) != len(got):
        print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
        fails.append(name)
        continue
    exp_s = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got_s = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    bad = None
    for c in exp.columns:
        ev, gv = exp_s[c].tolist(), got_s[c].tolist()
        for i, (a, b) in enumerate(zip(ev, gv)):
            af = isinstance(a, float) and math.isnan(a)
            bf = isinstance(b, float) and math.isnan(b)
            if af and bf:
                continue
            if str(a) != str(b):
                bad = (c, i, a, b)
                break
        if bad:
            break
    if bad:
        c, i, a, b = bad
        print(f"FAIL {name}: col {c} row {i}: spark={b!r} oracle={a!r}")
        fails.append(name)
    else:
        print(f"PASS {name} ({len(exp)} rows)")
        if len(exp) == 0:
            empty.append(name)

print(f"\n{len(oracle) - len(fails)}/{len(oracle)} PASS; "
      f"{len(empty)} with 0 rows: {', '.join(empty) or 'none'}")
sys.exit(1 if fails else 0)
