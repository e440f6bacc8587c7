#!/usr/bin/env python
"""Driver-simulation: what the harness does with __spark_entry__ at sf0.01."""
import math, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import __spark_entry__ as E
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"
spark = (SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .appName("verify-driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

df = E.entry(spark)
n = df.count()
print(f"entry(): {n} rows, schema={[f'{f.name}:{f.dataType.simpleString()}' for f in df.schema.fields]}")
assert n > 0

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def canon(v):
    if v is None: return "NULL"
    if isinstance(v, bool): return str(v).lower()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)

qs, sqls = E.queries(), E.oracle_sql()
print(f"{len(qs)} queries, {len(sqls)} with oracles")
ok = bad = 0
for name, fn in qs.items():
    t0 = time.time()
    sdf = fn(spark, SF)
    rows = [tuple(r) for r in sdf.collect()]
    dt = time.time() - t0
    if name in sqls:
        res = con.execute(sqls[name]); dcols = [d[0] for d in res.description]; drows = res.fetchall()
        order = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
        dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
        a = sorted(tuple(canon(r[i]) for i in order) for r in rows)
        b = sorted(tuple(canon(r[i]) for i in dorder) for r in drows)
        match = a == b
        ok += match; bad += not match
        print(f"{'MATCH' if match else 'MISMATCH':8} {name:22} {len(rows):>7} rows  {dt:5.1f}s")
        if not match:
            print("   spark-only:", [r for r in a if r not in b][:2])
            print("   oracle-only:", [r for r in b if r not in a][:2])
    else:
        print(f"{'ROWSONLY':8} {name:22} {len(rows):>7} rows  {dt:5.1f}s")
print(f"\n{ok} match, {bad} mismatch")
sys.exit(1 if bad else 0)
