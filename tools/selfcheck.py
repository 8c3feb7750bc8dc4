#!/usr/bin/env python3
"""Dev-only self-check mirroring the driver's correctness gate.

Runs AFTER `sbt "runMain graft.Verify <sfDir> <outDir>"`: loads each query's
parquet dump, runs its oracle SQL in DuckDB over the same sf tables, and
compares (rows, schema-by-name, sorted-value hash). NOT part of the shipped
library — the Scala code never imports or shells out to this.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize for comparison: timestamps -> iso strings, floats rounded
    # (the driver's hash passed r01 rows with ~5e-7 float noise, so exact
    # bit equality is NOT required), ints widened so int32/int64 agree.
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main(sf_dir: str, out_dir: str):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_noor = 0
    for qdir in sorted(glob.glob(os.path.join(out_dir, "*"))):
        name = os.path.basename(qdir)
        if not os.path.isdir(qdir):
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in
                              sorted(glob.glob(qdir + "/*.parquet"))],
                             ignore_index=True)
        if name not in oracles:
            n_noor += 1
            print(f"  {name:40s} no_oracle rows={len(spark_df)}")
            continue
        try:
            ora_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            n_fail += 1
            print(f"✗ {name:40s} ORACLE SQL ERROR: {e}")
            continue
        a, b = canon(spark_df), canon(ora_df)
        rows_ok = len(a) == len(b)
        schema_ok = list(a.columns) == list(b.columns)
        val_ok = rows_ok and schema_ok and a.equals(b)
        if rows_ok and schema_ok and val_ok:
            n_pass += 1
            print(f"✓ {name:40s} rows={len(a)}")
        else:
            n_fail += 1
            print(f"✗ {name:40s} rows {len(a)} vs {len(b)}, schema_ok={schema_ok}, values_ok={val_ok}")
            if schema_ok and rows_ok:
                neq = (a != b) & ~(a.isna() & b.isna())
                bad_cols = [c for c in a.columns if neq[c].any()]
                for c in bad_cols[:3]:
                    i = neq[c].idxmax()
                    print(f"    first diff col={c} row={i}: spark={a[c][i]!r} oracle={b[c][i]!r}")
            elif not schema_ok:
                print(f"    spark cols:  {list(a.columns)}")
                print(f"    oracle cols: {list(b.columns)}")
    print(f"\npass={n_pass} fail={n_fail} no_oracle={n_noor}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
         sys.argv[2] if len(sys.argv) > 2 else os.path.join(
             os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             "target", "verify-out"))
