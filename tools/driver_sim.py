"""Driver simulation: imports __spark_entry__ from this checkout like the real
driver would — plain default SparkSession, no engine session helper.

Round-3 hardening (lesson from CORRECTNESS_r02): the driver's value hash is
EXACT and type-realization-sensitive — the only two r2 hash mismatches were
the only two oracles whose DuckDB result carried a HUGEINT/decimal128 column
(un-cast windowed integer sums). This replica therefore
  1. compares exact values (no float rounding — queries must round their own
     float outputs so both engines land on the same decimal), and
  2. lints every oracle's Arrow schema: any decimal128/hugeint column is an
     automatic failure even when the values compare equal as Python ints.
"""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
import duckdb

spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# 1. smoke: entry() at sf0.001
df = e.entry(spark)
rows = df.collect()
print("ENTRY rows:", len(rows), "schema:", df.columns)
assert len(rows) > 0

# 2. oracle compare at sf0.01 (driver's gate)
sf = "/root/testdata/" + (sys.argv[1] if len(sys.argv) > 1 else "sf0.01")
only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    p = f"{sf}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

qs, sqls = e.queries(), e.oracle_sql()
fails = 0
for name, fn in qs.items():
    if only and name not in only:
        continue
    sdf = fn(spark, sf)
    scols = sorted(sdf.columns)
    srows = sorted([tuple(r[c] for c in scols) for r in sdf.collect()], key=str)
    if name not in sqls:
        print(f"{name}: rows-only, n={len(srows)}")
        continue
    arrow = con.execute(sqls[name]).fetch_arrow_table()
    bad_types = [f"{f.name}:{f.type}" for f in arrow.schema
                 if str(f.type).startswith("decimal")]
    rel = con.execute(sqls[name])
    dcols = sorted(c[0] for c in rel.description)
    dmap = [c[0] for c in rel.description]
    drows = sorted([tuple(row[dmap.index(c)] for c in dcols) for row in rel.fetchall()], key=str)
    ok = scols == dcols and srows == drows and not bad_types
    if not ok:
        fails += 1
        why = f"cols_ok={scols==dcols} n_spark={len(srows)} n_duck={len(drows)}"
        if bad_types:
            why += f" ORACLE_DECIMAL_COLS={bad_types}"
        print(f"{name}: MISMATCH {why}")
        for a, b in zip(srows, drows):
            if a != b:
                print("  spark:", a); print("  duck :", b); break
    else:
        print(f"{name}: MATCH ({len(srows)} rows)")
print("FAILS:", fails)
sys.exit(1 if fails else 0)
