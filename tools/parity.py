"""Local replay of the driver's DuckDB-oracle differential check.

For each catalog entry: run the Spark builder and the DuckDB oracle on the
same parquet tables, then compare row count, column-name set, and an
order-insensitive canonical form of all values. Stricter than the driver
(exact equality, no tolerance), so passing here implies passing the gate.
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime

import pandas as pd

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def make_duckdb(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for n in TABLES:
        con.execute(
            f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{sf_dir}/{n}.parquet')"
        )
    return con


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == 0.0:
            v = 0.0  # collapse -0.0
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if pd.isna(v):
        return "NULL"
    return str(v)


def canon(df: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(sorted column names, sorted canonical row strings).

    The official driver canonicalizes by sorting the RAW columns with
    ``DataFrame.sort_values`` before hashing — which raises
    ``TypeError: unhashable type`` on list/dict cells (this shipped two
    blind reds in round 5, when this sim stringified rows first and so
    happily hashed list columns the driver could not). Mirror the driver:
    run the raw-column sort first so any entry that would die officially
    dies here too. The stringified sort below is still what we compare on
    (exact, engine-portable cell normalization).
    """
    cols = sorted(df.columns)
    if len(df) and cols:
        df[cols].sort_values(by=cols)  # driver-fidelity probe; result unused
    rows = []
    for rec in df[cols].itertuples(index=False, name=None):
        rows.append("\x1f".join(_norm_cell(v) for v in rec))
    rows.sort()
    return cols, rows


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    """Return list of mismatch descriptions (empty = pass)."""
    errs = []
    sc, sr = canon(spark_df)
    oc, orr = canon(oracle_df)
    if sc != oc:
        errs.append(f"schema mismatch: spark={sc} oracle={oc}")
        return errs
    if len(sr) != len(orr):
        errs.append(f"rowcount mismatch: spark={len(sr)} oracle={len(orr)}")
    diffs = [(a, b) for a, b in zip(sr, orr) if a != b]
    if diffs:
        errs.append(f"value mismatch on {len(diffs)} rows; first: spark={diffs[0][0][:300]!r} oracle={diffs[0][1][:300]!r}")
    return errs


def run_parity(names=None, sf_dir="/root/testdata/sf0.01", spark=None, con=None, verbose=True):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from clickhouse_provider_spark.plans import CATALOG
    from clickhouse_provider_spark.session import get_spark, load_tables

    spark = spark or get_spark()
    con = con or make_duckdb(sf_dir)
    tables = load_tables(spark, sf_dir)
    failures = {}
    for name in names or CATALOG:
        spec = CATALOG[name]
        try:
            sdf = spec.build(spark, tables).toPandas()
        except Exception as e:  # noqa: BLE001
            failures[name] = [f"spark error: {e}"]
            if verbose:
                print(f"FAIL {name}: spark error: {e}")
            continue
        if spec.oracle is None:
            if verbose:
                print(f"ok   {name} (rows-only: {len(sdf)} rows)")
            continue
        try:
            odf = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            failures[name] = [f"oracle error: {e}"]
            if verbose:
                print(f"FAIL {name}: oracle error: {e}")
            continue
        errs = compare(sdf, odf)
        if errs:
            failures[name] = errs
            if verbose:
                print(f"FAIL {name}: " + "; ".join(errs))
        elif verbose:
            print(f"ok   {name} ({len(sdf)} rows)")
    return failures


if __name__ == "__main__":
    names = sys.argv[1:] or None
    fails = run_parity(names)
    print(f"\n{'ALL PASS' if not fails else f'{len(fails)} FAILURES: {sorted(fails)}'}")
    sys.exit(1 if fails else 0)
