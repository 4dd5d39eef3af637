#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify's
output against the DuckDB oracle and diff. Usage:
    python3 tools/check.py <sfDir> <outDir> [query ...]
(outDir must already contain Verify's parquet dumps + oracle_sql.json)
"""
import sys, json, glob, duckdb, pandas as pd, numpy as np

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.reset_index(drop=True)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(only - oracle.keys())
    if unknown:
        print(f"unknown query names (no oracle_sql.json key): {' '.join(unknown)}")
        sys.exit(2)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only: continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            exp = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: cols got={list(got.columns)} exp={list(exp.columns)}"); n_fail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows got={len(got)} exp={len(exp)}"); n_fail += 1; continue
        # Driver hashes formatted values, so an int64 Spark column vs a
        # float64 DuckDB column (e.g. HUGEINT sum through fetchdf) fails
        # there even when numerically equal. Mirror that strictness.
        dtype_bad = [c for c in got.columns
                     if np.issubdtype(got[c].dtype, np.integer) != np.issubdtype(exp[c].dtype, np.integer)]
        if dtype_bad:
            print(f"FAIL {name}: dtype family mismatch in "
                  f"{[(c, str(got[c].dtype), str(exp[c].dtype)) for c in dtype_bad]}")
            n_fail += 1; continue
        diff_cols = []
        for c in got.columns:
            g, e = got[c], exp[c]
            if np.issubdtype(g.dtype, np.floating) or np.issubdtype(e.dtype, np.floating):
                eq = ((g.isna() & e.isna()) | (g == e)).all()
            else:
                eq = ((g.isna() & e.isna()) | (g.astype(str) == e.astype(str))).all()
            if not eq: diff_cols.append(c)
        if diff_cols:
            print(f"FAIL {name}: value mismatch in {diff_cols}")
            for c in diff_cols[:2]:
                m = ~(((got[c].isna()) & (exp[c].isna())) | (got[c] == exp[c]))
                idx = m[m].index[:3]
                for i in idx:
                    print(f"   row {i}: got={got[c][i]!r} exp={exp[c][i]!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
