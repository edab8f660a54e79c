#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (NOT part of the
library; uses driver-side tools duckdb/pyarrow for validation only).

Usage: python3 scripts/check.py [sfDir] [outDir]
Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran.
Compares each <outDir>/<name> parquet against the oracle SQL in
<outDir>/oracle_sql.json run by DuckDB over the same tables:
columns sorted by name, rows sorted, exact value compare.
"""
import sys, json, glob, math
import duckdb
import numpy as np
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
# a runaway oracle plan should fail its own query, not OOM-kill the sweep
con.execute("SET memory_limit='48GB'")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
# optional resume / subset: "from:NAME" skips everything before NAME;
# a comma list runs just those queries
only = sys.argv[3] if len(sys.argv) > 3 else None

oracle = json.load(open(f"{out}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def is_nan(x):
    return isinstance(x, (float, np.floating)) and math.isnan(x)

def values_equal(a, b):
    """Exact, as the driver's hash: NaN equals only NaN, and 0.0 is not
    -0.0."""
    if is_nan(a) or is_nan(b): return is_nan(a) and is_nan(b)
    if a is None and b is None: return True
    try:
        if pd.isna(a) and pd.isna(b): return True
    except (TypeError, ValueError): pass
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        try:
            x, y = float(a), float(b)
            return x == y and math.copysign(1.0, x) == math.copysign(1.0, y)
        except (TypeError, ValueError): return False
    return a == b

fails, passes, skips = [], [], []
names = sorted(set(list(oracle.keys()) +
    [p.split("/")[-1] for p in glob.glob(f"{out}/*") if not p.endswith(".json")]))
if only and only.startswith("from:"):
    names = [n for n in names if n >= only[5:]]
elif only:
    names = [n for n in names if n in set(only.split(","))]
import time
for name in names:
    t0 = time.time()
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        fails.append((name, "no spark output"))
        print(f"[{name}] FAIL no spark output", flush=True); continue
    got = canon(con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
    if name not in oracle:
        skips.append((name, len(got)))
        print(f"[{name}] skip (rows-only)", flush=True); continue
    try:
        exp = canon(con.execute(oracle[name]).df())
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        print(f"[{name}] FAIL oracle SQL error: {e}", flush=True); continue
    if list(got.columns) != list(exp.columns):
        fails.append((name, f"cols got={list(got.columns)} exp={list(exp.columns)}"))
        print(f"[{name}] FAIL cols", flush=True); continue
    if got.dtypes.to_dict() != exp.dtypes.to_dict():
        d = {c: (str(got.dtypes[c]), str(exp.dtypes[c]))
             for c in got.columns if got.dtypes[c] != exp.dtypes[c]}
        fails.append((name, f"dtypes differ {d}"))
        print(f"[{name}] FAIL dtypes {d}", flush=True); continue
    if len(got) != len(exp):
        fails.append((name, f"rows got={len(got)} exp={len(exp)}"))
        print(f"[{name}] FAIL rows got={len(got)} exp={len(exp)}", flush=True); continue
    bad = None
    for c in got.columns:
        gv, ev = got[c].tolist(), exp[c].tolist()
        for i, (g, e) in enumerate(zip(gv, ev)):
            if not values_equal(g, e):
                bad = f"col {c} row {i}: got={g!r} exp={e!r}"; break
        if bad: break
    if bad: fails.append((name, bad))
    else: passes.append((name, len(got)))
    # stream per-query verdicts (a crash mid-sweep keeps everything done
    # so far; the trailing summary is unchanged)
    st = ("FAIL " + bad) if bad else f"pass ({len(got)} rows)"
    print(f"[{name}] {st} {time.time()-t0:.1f}s", flush=True)

for n, r in passes: print(f"PASS {n} ({r} rows)")
for n, r in skips: print(f"SKIP (no oracle) {n} ({r} rows)")
for n, m in fails: print(f"FAIL {n}: {m}")
print(f"\n{len(passes)} pass, {len(skips)} rows-only, {len(fails)} fail")
sys.exit(1 if fails else 0)
