#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify, then
execute each oracle SQL in DuckDB over the same parquet tables and compare
row counts, column names, and values (exact, after sorting columns by name
and rows by all columns).

Usage: tools/check.py [sfDir] [outDir] [--skip-verify] [--only q1,q2,...]

--only forwards the query subset to graft.Verify and compares only those
queries. Without --skip-verify, outDir is emptied first, so no output of an
earlier run is compared as if it were this run's.
"""
import argparse, json, shutil, subprocess, sys, glob, os

ap = argparse.ArgumentParser()
ap.add_argument("sf", nargs="?", default="/root/testdata/sf0.01")
ap.add_argument("out", nargs="?", default="/tmp/verify_out")
ap.add_argument("--skip-verify", action="store_true")
ap.add_argument("--only", help="comma-separated query names")
a = ap.parse_args()
sf, out = a.sf, a.out
only = set(a.only.split(",")) if a.only else None

if not a.skip_verify:
    if os.path.isdir(out) and os.listdir(out):
        # refuse to wipe a directory that is not an earlier Verify output
        if not os.path.exists(os.path.join(out, "oracle_sql.json")):
            sys.exit(f"{out} is not empty and holds no oracle_sql.json; not removing it")
        shutil.rmtree(out)
    cmd = ["bash", "tools/run.sh", "graft.Verify", sf, out] + ([a.only] if only else [])
    cp = subprocess.run(cmd, capture_output=True, text=True)
    if cp.returncode != 0:
        print(cp.stdout[-3000:]); print(cp.stderr[-3000:]); sys.exit(1)
    for line in cp.stderr.splitlines():
        if "[verify]" in line: print(line)

import duckdb, pandas as pd
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
declared = [os.path.basename(p) for p in sorted(glob.glob(f"{out}/*")) if os.path.isdir(p)]
ok = fail = 0
if only:
    for name in sorted(only - set(declared)):
        print(f"FAIL {name}: no spark output"); fail += 1
    declared = [n for n in declared if n in only]
    oracle = {k: v for k, v in oracle.items() if k in only}

for name in declared:
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fail += 1; continue
    sdf = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
    if name not in oracle:
        print(f"ok?  {name}: rows-only ({len(sdf)} rows)" + (" EMPTY!" if len(sdf)==0 else ""))
        ok += 1
        continue
    try:
        ddf = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}"); fail += 1; continue
    problems = []
    scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
    if scols != dcols:
        problems.append(f"columns differ: spark={scols} duck={dcols}")
    elif len(sdf) != len(ddf):
        problems.append(f"rowcount differs: spark={len(sdf)} duck={len(ddf)}")
    else:
        a = sdf[scols].sort_values(scols).reset_index(drop=True)
        b = ddf[dcols].sort_values(dcols).reset_index(drop=True)
        for c in scols:
            av, bv = a[c], b[c]
            try:
                if str(av.dtype).startswith(("datetime", "date")) or str(bv.dtype).startswith(("datetime","date")):
                    av = pd.to_datetime(av).astype("datetime64[ns]")
                    bv = pd.to_datetime(bv).astype("datetime64[ns]")
                    eq = av.equals(bv)
                else:
                    eq = (av.isna() == bv.isna()).all() and \
                         ((av.fillna(0) == bv.fillna(0)) | (av.isna())).all()
            except Exception as e:
                eq = False
            if not eq:
                diffs = (~((av.isna() & bv.isna()) | (av == bv))).sum() if len(av)==len(bv) else "?"
                problems.append(f"col {c} ({av.dtype} vs {bv.dtype}): {diffs} diffs; "
                                f"spark head={list(av.head(3))} duck head={list(bv.head(3))}")
    if problems:
        print(f"FAIL {name}: " + " | ".join(str(p) for p in problems)); fail += 1
    else:
        print(f"OK   {name} ({len(sdf)} rows)"); ok += 1

missing = set(oracle) - set(declared)
if missing: print("oracle entries with no spark output:", missing)
print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
