#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage:  python3 tools/selfcheck.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB against views over
<sfDir>/*.parquet, and compares: columns sorted by name, rows sorted by all
columns, exact value equality. Reports per-query PASS/FAIL, and MISS (counted
as a failure) for an oracle query with no parquet output.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.map(lambda v: str(v)))
    return df.reset_index(drop=True)


def dtype_class(dt) -> str:
    k = getattr(dt, "kind", "O")
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    return "other"


def cmp_frames(a: pd.DataFrame, b: pd.DataFrame):
    if sorted(a.columns) != sorted(b.columns):
        return f"columns differ: spark={sorted(a.columns)} oracle={sorted(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: spark={len(a)} oracle={len(b)}"
    a, b = canon(a), canon(b)
    # Dtype-class parity FIRST: the driver hashes string renderings, so an
    # int64 5 vs float64 5.0 mismatch fails there even when values are equal
    # (the DuckDB HUGEINT->float class of bug). Mirror that strictness.
    for c in a.columns:
        ca, cb = dtype_class(a[c].dtype), dtype_class(b[c].dtype)
        if ca != cb:
            return f"col {c}: dtype class differs: spark={a[c].dtype} ({ca}) oracle={b[c].dtype} ({cb})"
    for c in a.columns:
        av, bv = a[c], b[c]
        for i in range(len(av)):
            x, y = av.iloc[i], bv.iloc[i]
            if isinstance(x, float) or isinstance(y, float):
                import math
                fx, fy = float(x), float(y)
                if not (fx == fy or (math.isnan(fx) and math.isnan(fy))):
                    return f"col {c} row {i}: spark={x!r} oracle={y!r}"
            else:
                if str(x) != str(y):
                    return f"col {c} row {i}: spark={x!r} oracle={y!r}"
    return None


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Every oracle key must have output: a query that threw in Verify
    # writes no directory, and skipping it would read as a pass.
    names = sorted({os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
                    if os.path.isdir(p)} | set(oracle))
    n_pass = n_fail = 0
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"MISS {name}: no parquet written"); n_fail += 1; continue
        spark_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        if name not in oracle:
            print(f"SKIP {name}: rows-only ({len(spark_df)} rows)")
            continue
        try:
            oracle_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        err = cmp_frames(spark_df, oracle_df)
        if err:
            print(f"FAIL {name}: {err}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
