"""Targeted oracle check: run named declared queries vs oracle_sql() at the
given SFs with the driver's order-insensitive value-hash compare.

Usage: python tools/targeted_oracle.py q1 q2 ... [--sf 0.001,0.01,0.1]
Also prints each query's spark-side value hash so two code states can be
diffed even where the oracle itself is known to diverge (e.g. double
rounding at a non-gate scale).
"""

import json
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as E
from tools.parity import TABLES, canon

names = [a for a in sys.argv[1:] if not a.startswith("--")]
sfs = ["0.001", "0.01", "0.1"]
for a in sys.argv[1:]:
    if a.startswith("--sf="):
        sfs = a.split("=", 1)[1].split(",")

cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()

qs, oracles = E.queries(), E.oracle_sql()
out = {}
rc = 0
for sf in sfs:
    SF = f"/root/testdata/sf{sf}"
    con = duckdb.connect()
    for n in TABLES:
        con.execute(
            f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{SF}/{n}.parquet')"
        )
    for name in names:
        sdf = qs[name](spark, SF).toPandas()
        sc, sr = canon(sdf)
        shash = hashlib.md5("\n".join(sr).encode()).hexdigest()[:12]
        rec = {"spark_hash": shash, "rows": len(sr)}
        if name in oracles:
            odf = con.execute(oracles[name]).df()
            oc, orr = canon(odf)
            ohash = hashlib.md5("\n".join(orr).encode()).hexdigest()[:12]
            ok = sc == oc and len(sr) == len(orr) and shash == ohash
            rec["oracle_hash"] = ohash
            rec["match"] = ok
            if not ok:
                rc = 1
        out[f"{name}@sf{sf}"] = rec
    con.close()

print(json.dumps(out, indent=1))
sys.exit(rc)
