"""Local mimic of the driver correctness gate: run every queries() entry at
sf0.01 and compare against oracle_sql() via DuckDB (row count + sorted
rounded values). Usage: python3 scripts/check_oracle.py [query ...]"""
import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import math

SF = __import__("os").environ.get("ORACLE_SF", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

import __spark_entry__ as E
from kgcompass_spark.session import get_spark

spark = get_spark("oracle-check")
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

qs, os_ = E.queries(), E.oracle_sql()

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v

fails = []
only = sys.argv[1:] if len(sys.argv) > 1 else None
for name, fn in qs.items():
    if only and name not in only:
        continue
    try:
        sdf = fn(spark, SF)
        scols = sorted(sdf.columns)
        srows = sorted(
            tuple(norm(r[c]) for c in scols) for r in sdf.collect()
        )
        if name not in os_:
            print(f"{name:28s} rows-only: {len(srows)} rows, cols={scols}")
            continue
        odf = con.execute(os_[name]).fetch_df()
        ocols = sorted(odf.columns)
        orows = sorted(
            tuple(norm(v) for v in row) for row in odf[ocols].itertuples(index=False)
        )
        ok_cols = scols == ocols
        ok_cnt = len(srows) == len(orows)
        ok_val = srows == orows
        status = "OK" if (ok_cols and ok_cnt and ok_val) else "FAIL"
        print(f"{name:28s} {status} spark={len(srows)} duck={len(orows)} cols_match={ok_cols}")
        if status == "FAIL":
            fails.append(name)
            if not ok_cols:
                print("  spark cols:", scols, " duck cols:", ocols)
            if ok_cnt and not ok_val:
                diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
                for a, b in diffs:
                    print("  spark:", a)
                    print("  duck :", b)
    except Exception as ex:
        fails.append(name)
        print(f"{name:28s} ERROR {type(ex).__name__}: {str(ex)[:300]}")

print("\nFAILURES:", fails if fails else "none")
sys.exit(1 if fails else 0)
