"""Self-test of the benchmark: a tiny smoke run of every workload's code
paths and checks, then negative cases showing the checks catch wrong
output.

    python3 perfbench/selftest.py --sf-dir <table dir, e.g. .../sf0.001>

``--sf-dir`` names the catalog tables; ``oracle_hashes.json`` must hold
hashes for its directory name. Exit code 0 when every case passes.
"""

from __future__ import annotations

import argparse
import copy
import os
import shutil
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

TINY = {
    "BACKFILL_BLOCKS": 14, "BACKFILL_TXS_PER_BLOCK": 3, "BLOCKS_PER_FILE": 5,
    "REPLAY_OVERLAP": 10, "BACKFILL_READS": (2, 2),
    "TAIL_BLOCKS": 13, "TAIL_TXS_PER_BLOCK": 3, "TAIL_FILES_PER_TRIGGER": 13,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()
    for k, v in TINY.items():
        setattr(W, k, v)
    os.environ["SPARK_GRAFT_SF_DIR"] = os.path.abspath(args.sf_dir)
    tmp = os.path.join(ROOT, ".bench_tmp", f"selftest-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    failures: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(f"{'ok  ' if cond else 'FAIL'} {what}")
        if not cond:
            failures.append(what)

    spark = None
    try:
        run.pin_environment(tmp)
        from clickhouse_provider_spark.session import get_spark

        spark = get_spark(app_name="perfbench-selftest")
        results = {}
        for name, want_failed in (("backfill_serve", 3), ("tail_stream", 0), ("catalog", 0)):
            sub = os.path.join(tmp, name)
            os.makedirs(sub)
            prep = run.prepare(name, 1, sub)
            ctx = W.Ctx(spark=spark, seed=1, seconds=0, trace=True, tmp=sub,
                        tracer=probe.Tracer(True), counters=probe.SparkCounters(spark, True),
                        py4j=probe.Py4jCounter(True))
            res = getattr(W, name)(ctx, prep)
            ctx.py4j.close()
            results[name] = (res, prep, sub)
            for e in res.errors:
                print(f"     {e}")
            expect(not res.errors, f"{name}: every output check passes")
            expect(res.failed == want_failed, f"{name}: {res.failed} of {res.attempted} operations failed, want {want_failed}")
            expect(bool(ctx.tracer.spans), f"{name}: the traced run recorded spans")

        # negative cases: each wrong output must be caught
        res, prep, sub = results["backfill_serve"]
        truth, snap = prep["truth"], res.snapshot
        bad = copy.deepcopy(snap)
        bad["transactions"].pop()
        expect(bool(checks.check_warehouse(bad, truth, True)), "a dropped transaction is caught")
        bad = copy.deepcopy(snap)
        rid, tx = bad["receipt_txs"][0]
        bad["receipt_txs"][0] = (rid, next(t for _, t in bad["receipt_txs"] if t != tx))
        expect(bool(checks.check_warehouse(bad, truth, True)), "a receipt mapped to the wrong transaction is caught")
        bad = copy.deepcopy(snap)
        bad["keys"]["actions"]["rows"] += 1
        expect(bool(checks.check_warehouse(bad, truth, True)), "a duplicated sort key in read_table is caught")
        # a read_table that stopped deduplicating
        from clickhouse_provider_spark import storage

        dedup = storage.read_table
        storage.read_table = lambda sp, wh, name: sp.read.parquet(os.path.join(wh, name)).drop("height_bucket")
        try:
            raw = checks.snapshot_warehouse(spark, os.path.join(sub, "wh0"), raw_counts=True)
        finally:
            storage.read_table = dedup
        expect(bool(checks.check_warehouse(raw, truth, True)), "a read_table without dedup is caught")
        call = {"fn": "block_transactions", "args": {"block_height": max(t["height"] for t in truth.txs.values())}}
        call["rows"] = [{"transaction_hash": h} for h, t in truth.txs.items() if call["args"]["block_height"] in t["blocks"]]
        expect(not checks.check_call(call, truth), "a correct serving result passes")
        call["rows"] = call["rows"][1:]
        expect(bool(checks.check_call(call, truth)), "a serving result missing a row is caught")

        from clickhouse_provider_spark.plans import CATALOG
        from clickhouse_provider_spark.session import load_tables

        _, cprep, _ = results["catalog"]
        pdf = CATALOG["q5_regional_revenue"].build(spark, load_tables(spark, cprep["sf_dir"])).toPandas()
        want = cprep["oracle_hashes"]["q5_regional_revenue"]
        expect(checks.value_hash(pdf) == want, "q5_regional_revenue matches its oracle hash")
        col = pdf.columns[-1]
        pdf.loc[0, col] = pdf.loc[0, col] + 1
        expect(checks.value_hash(pdf) != want, "an altered catalog row is caught")
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_tmp"))
        except OSError:
            pass
    print("SELFTEST " + ("PASSED" if not failures else f"FAILED: {len(failures)} case(s)"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
