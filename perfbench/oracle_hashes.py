"""Recompute the catalog workload's stored oracle hashes from DuckDB alone.

Some oracles take 8-20 s in DuckDB at sf0.1, so the benchmark compares
against hashes stored in ``oracle_hashes.json`` instead of running them.
This script rebuilds that file: for each table directory given, it runs
every benchmarked query's ``oracle`` SQL in DuckDB over the same parquet
files and stores the order-insensitive value hash, keyed by the
directory's name (``sf0.1`` …)::

    python3 perfbench/oracle_hashes.py <dir>/sf0.001 <dir>/sf0.01 <dir>/sf0.1
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    from checks import value_hash
    from tools.parity import make_duckdb
    from workloads import CATALOG_QUERIES

    from clickhouse_provider_spark.plans import CATALOG

    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    path = os.path.join(HERE, "oracle_hashes.json")
    stored = json.load(open(path)) if os.path.exists(path) else {}
    for sf_dir in sys.argv[1:]:
        con = make_duckdb(sf_dir)
        out = {}
        for name in CATALOG_QUERIES:
            t = time.perf_counter()
            out[name] = value_hash(con.execute(CATALOG[name].oracle).df())
            print(f"{os.path.basename(sf_dir)} {name}: {time.perf_counter() - t:.1f}s", file=sys.stderr)
        stored[os.path.basename(os.path.normpath(sf_dir))] = out
    with open(path, "w") as fh:
        json.dump(stored, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
