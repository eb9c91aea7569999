#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate: run DuckDB oracle SQL
against the same parquet tables and compare with Verify's parquet dumps.
Usage: python3 tools/check.py <sfDir> <outDir> [query ...]
Exits 1 when any checked query fails, when a named query has no oracle
entry or no output, or when nothing was checked; 0 only if all passed.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(only - oracle.keys()):
        print(f"FAIL {name}: no oracle entry"); n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1; continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: cols spark={list(g.columns)} duck={list(e.columns)}")
            n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows spark={len(g)} duck={len(e)}"); n_fail += 1; continue
        # exact compare, mimicking a hash of values; numeric dtypes get an
        # np.isclose tolerance path (ADVICE r1) but near-misses are warned
        # loudly since the driver's own gate hashes exact values.
        import numpy as np
        mismatch = None
        for c in g.columns:
            gv, ev = g[c], e[c]
            if (np.issubdtype(gv.dtype, np.floating)
                    and np.issubdtype(ev.dtype, np.floating)):
                same = np.isclose(gv.values, ev.values,
                                  rtol=1e-9, atol=1e-12, equal_nan=True)
                exact = (gv.astype(str).values == ev.astype(str).values)
                if same.all() and not exact.all():
                    i = int((~exact).argmax())
                    print(f"WARN {name}: col {c} row {i} only float-close "
                          f"(spark={gv.iloc[i]!r} duck={ev.iloc[i]!r}) — "
                          f"driver's exact hash may still FAIL; round() it")
            else:
                try:
                    same = (gv.astype(str).values == ev.astype(str).values)
                except Exception:
                    same = gv.values == ev.values
            if not same.all():
                i = int((~same).argmax())
                mismatch = (c, i, gv.iloc[i], ev.iloc[i])
                break
        if mismatch:
            c, i, a, b = mismatch
            print(f"FAIL {name}: col {c} row {i}: spark={a!r} duck={b!r}")
            # dtype hint
            print(f"     dtypes: spark={g[c].dtype} duck={e[c].dtype}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail or not n_pass else 0)

if __name__ == "__main__":
    main()
