"""Emulate the driver's correctness gate: run every registered query and
its DuckDB oracle side-by-side at sf0.01, sort columns by name, coerce
through pandas, and compare value hashes AND dtypes (the driver's hash
is dtype-sensitive). Usage: python scripts/driver_emu.py"""
import hashlib, json, os, sys
import duckdb, pandas as pd, numpy as np
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sf_dir = "/root/testdata/sf0.01"
# one task thread per usable CPU, the rule build_spark follows
cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
spark = (SparkSession.builder.master(f"local[{cpus}]")
         .config("spark.sql.shuffle.partitions","8")
         .config("spark.driver.memory","8g")
         .config("spark.sql.session.timeZone","UTC")
         .appName("driveremu").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sys.path.insert(0, REPO)
from ontocast_spark.queries import ORACLES, QUERIES

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

def canon(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v,(np.floating,float)):
                vals.append("nan" if pd.isna(v) else f"{float(v):.9g}")
            elif isinstance(v,(np.integer,int)):
                vals.append(str(int(v)))
            elif v is None:
                vals.append("None")
            else:
                vals.append(repr(v))
        rows.append("|".join(vals))
    rows.sort()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()

bad = []
for name in sorted(QUERIES):
    try:
        sdf = QUERIES[name](spark, sf_dir)
        spdf = sdf.toPandas()
    except Exception as e:
        bad.append((name, f"spark_err {e}")); print(name, "SPARK ERR", e); continue
    if name not in ORACLES:
        print(f"{name}: rows={len(spdf)} (no oracle)"); continue
    try:
        ddf = con.sql(ORACLES[name]).df()
    except Exception as e:
        bad.append((name, f"oracle_err {e}")); print(name, "ORACLE ERR", e); continue
    ok_rows = len(spdf)==len(ddf)
    ok_cols = sorted(spdf.columns)==sorted(ddf.columns)
    # dtype check after sorting columns
    sd = {c:str(spdf[c].dtype) for c in spdf.columns}
    dd = {c:str(ddf[c].dtype) for c in ddf.columns}
    dtype_mismatch = {c:(sd.get(c),dd.get(c)) for c in set(sd)|set(dd) if sd.get(c)!=dd.get(c)}
    h1, h2 = canon(spdf), canon(ddf)
    status = "OK" if (ok_rows and ok_cols and h1==h2) else "FAIL"
    if status=="FAIL": bad.append((name,"mismatch"))
    print(f"{name}: rows={len(spdf)}/{len(ddf)} cols_ok={ok_cols} hash={'==' if h1==h2 else '!='} dtypes_diff={dtype_mismatch if dtype_mismatch else ''} {status}")
print("BAD:", bad)

# driver smoke of entry(): must run and return >= 0 rows with a stable schema
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
edf = mod.entry(spark)
n = edf.count()
cols = [f.name for f in edf.schema.fields]
print(f"ENTRY: rows={n} cols={cols} {'OK' if n >= 0 and cols else 'FAIL'}")
if not cols:
    bad.append(("entry", "no schema"))
print("FINAL:", "ALL OK" if not bad else f"FAILURES {bad}")
