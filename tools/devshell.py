"""Interactive dev shell: Spark session + duckdb oracle views preloaded.

Usage: python -u -i tools/devshell.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from clickhouse_provider_spark.session import get_spark, load_tables

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

spark = get_spark()
tables = load_tables(spark, SF_DIR)
con = duckdb.connect()
for _n in tables:
    con.execute(
        f"CREATE VIEW {_n} AS SELECT * FROM read_parquet('{SF_DIR}/{_n}.parquet')"
    )


def dd(sql):
    """Run SQL on the duckdb oracle, return pandas."""
    return con.execute(sql).df()


def ss(sql):
    """Run SQL on Spark, return pandas."""
    return spark.sql(sql).toPandas()


print("READY", sorted(tables))
