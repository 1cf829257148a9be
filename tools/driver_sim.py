"""Simulate the driver's verify pass end-to-end through __spark_entry__'s
public contract: smoke entry(), then run queries() vs oracle_sql() at sf0.01
with an order-insensitive value-hash compare (the driver's t1+t2 shape).
"""

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as E
from tools.parity import TABLES, canon

# CRITICAL: the real harness builds its OWN vanilla SparkSession and calls
# queries()[name](spark, sf_dir) directly — none of get_spark()'s builder
# confs apply. Round 1 shipped a bug this sim masked by using get_spark();
# the sim must replicate the harness exactly: bare builder, zero engine
# confs. Any conf the public contract needs must be set at runtime inside
# the package (see session.ensure_runtime_confs).
cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()

# t1 smoke: entry() at sf0.001
df = E.entry(spark)
rows = df.collect()
print("T1 entry():", len(rows), "rows, schema:", [f.name for f in df.schema.fields])
assert len(rows) >= 0

# t2: queries vs oracle at sf0.01
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for n in TABLES:
    con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{SF}/{n}.parquet')")

qs, oracles = E.queries(), E.oracle_sql()
assert set(oracles) <= set(qs), "oracle_sql keys must be subset of queries"
results = {}
for name, fn in qs.items():
    sdf = fn(spark, SF).toPandas()
    if name not in oracles:
        results[name] = f"rows_only:{len(sdf)}"
        continue
    odf = con.execute(oracles[name]).df()
    sc, sr = canon(sdf)
    oc, orr = canon(odf)
    shash = hashlib.md5("\n".join(sr).encode()).hexdigest()[:12]
    ohash = hashlib.md5("\n".join(orr).encode()).hexdigest()[:12]
    ok = sc == oc and len(sr) == len(orr) and shash == ohash
    results[name] = "MATCH" if ok else f"MISMATCH cols={sc==oc} n={len(sr)}/{len(orr)} hash={shash}/{ohash}"

n_match = sum(1 for v in results.values() if v == "MATCH")
n_rows_only = sum(1 for v in results.values() if str(v).startswith("rows_only"))
bad = {k: v for k, v in results.items() if v != "MATCH" and not str(v).startswith("rows_only")}
print(json.dumps(results, indent=0))
print(f"T2: {n_match} hash-match, {n_rows_only} rows-only, {len(bad)} mismatch")
sys.exit(1 if bad else 0)
