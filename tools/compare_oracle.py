#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped
by graft.Verify, run its oracle SQL in DuckDB over the same parquet
tables and compare rows/schema/value-hash (columns sorted by name, rows
sorted by all columns, floats rounded).

    compare_oracle.py [sf_dir] [out_dir] [name1,name2,...]
"""
import json, sys, hashlib
import duckdb
import pandas as pd
from pathlib import Path

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_local")
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

oracle = json.loads((out_dir / "oracle_sql.json").read_text())
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if Path(p).exists():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def h(df: pd.DataFrame) -> str:
    return hashlib.md5(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()

fails = []
for name in sorted(oracle):
    if only and name not in only:
        continue
    try:
        spark_df = canon(pd.read_parquet(out_dir / name))
        ora_df = canon(con.execute(oracle[name]).df())
        # normalize dtypes: compare as strings after canonicalization
        a = spark_df.astype(str)
        b = ora_df.astype(str)
        rows = len(spark_df) == len(ora_df)
        schema = list(a.columns) == list(b.columns)
        hm = rows and schema and h(a) == h(b)
        status = "OK " if hm else "FAIL"
        print(f"{status} {name}: rows {len(spark_df)}/{len(ora_df)} "
              f"schema={schema} hash={hm}")
        if not hm:
            fails.append(name)
            if rows and schema:
                diff = (a != b).any(axis=1)
                print("  spark:", a[diff].head(3).to_dict("records"))
                print("  ora:  ", b[diff].head(3).to_dict("records"))
            elif not schema:
                print("  spark cols:", list(a.columns))
                print("  ora cols:  ", list(b.columns))
    except Exception as e:
        fails.append(name)
        print(f"ERR  {name}: {e}")
print(f"\n{len(fails)} failing: {fails}" if fails else "\nALL GREEN")
sys.exit(1 if fails else 0)
