#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate.

Usage: python3 tools/compare.py <sfDir> <outDir>

Reads each <outDir>/<name> parquet dump produced by graft.Verify, runs the
corresponding oracle SQL from <outDir>/oracle_sql.json in DuckDB (with views
named after the parquet tables in <sfDir>), and compares: row count, schema
(column names), and a hash of the value matrix with columns sorted by name
and rows sorted.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints/floats; kill tz
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    # large-fixture sweeps: bound DuckDB's memory and give it a spill dir
    # (the default unbounded run OOM-killed a 102M-row oracle at 130 GB)
    mem = os.environ.get("DUCKDB_MEMORY_LIMIT")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    tmp = os.environ.get("DUCKDB_TEMP_DIR")
    if tmp:
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        # Spark-written tables are DIRECTORIES of part files (e.g. the
        # many-symbol fixture of the SYM_SCALING `sym_oracle_spot` line);
        # driver testdata tables are single files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    results = {}
    for d in sorted(os.listdir(out_dir)):
        full = os.path.join(out_dir, d)
        if not os.path.isdir(full):
            continue
        name = d
        try:
            got = pd.read_parquet(full)
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {e}"
            continue
        if name not in oracles:
            results[name] = f"NO-ORACLE rows={len(got)}"
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-FAIL {str(e).splitlines()[0][:200]}"
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            results[name] = f"SCHEMA-MISMATCH spark={list(g.columns)} duckdb={list(e.columns)}"
            continue
        if len(g) != len(e):
            results[name] = f"ROWS-MISMATCH spark={len(g)} duckdb={len(e)}"
            continue
        # exact compare with NaN==NaN
        eq = g.equals(e)
        if not eq:
            # find first difference for diagnostics
            diffs = []
            for c in g.columns:
                a, b = g[c].values, e[c].values
                if pd.api.types.is_float_dtype(g[c]):
                    neq = ~((a == b) | (pd.isna(a) & pd.isna(b)))
                else:
                    neq = ~(pd.Series(a).fillna("__NULL__").values ==
                            pd.Series(b).fillna("__NULL__").values)
                n = int(neq.sum())
                if n:
                    i = int(np.argmax(neq))
                    diffs.append(f"{c}:{n} (row{i}: {a[i]!r} vs {b[i]!r})")
            results[name] = "VALUE-MISMATCH " + "; ".join(diffs[:4])
        else:
            results[name] = f"OK rows={len(g)}"
    npass = sum(1 for v in results.values() if v.startswith("OK"))
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith('OK') else 'FAIL':4s} {k}: {v}")
    print(f"== {npass}/{len(results)} matched ==")

if __name__ == "__main__":
    main()
